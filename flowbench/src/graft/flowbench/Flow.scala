package graft.flowbench

import org.apache.spark.sql.SparkSession

/** Pieces the three workloads share. */
object Flow {

  /** One workload run: its seed and length, its private directory, and
    * how many times set-up is repeated (the median is reported).
    */
  final case class Conf(seed: Long, seconds: Int, work: String, setupReps: Int)

  /** What one workload run hands back besides the Meter's samples:
    * its set-up time, operation counts, failed output checks, and the
    * workload-specific per-layer numbers (traced runs only).
    */
  final case class Outcome(setupS: Double, attempted: Int, failed: Int,
                           checkFailures: Seq[String], layer: Seq[(String, Double)])

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def log(msg: String): Unit = System.err.println(s"[flowbench] $msg")

  /** Fixed CPU + shuffle probe (host speed, not program speed). */
  def calibrate(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val ts = (0 until 3).map { _ =>
      timed(spark.range(1000000L).selectExpr("xxhash64(id) AS h", "id % 1024 AS k")
        .repartition(4, col("k")).groupBy("k").agg(sum("h"))
        .agg(count(lit(1))).head())
    }
    Meter.quantile(ts.tail, 0.5) // the first one warms the probe
  }
}
