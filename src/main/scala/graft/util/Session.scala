package graft.util

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder of graft's mains and specs, so a
  * measurement, an oracle run and a test all plan under the same
  * session: `local[cpus]` with one shuffle partition per core, UTC,
  * `events.parquet`'s nanosecond timestamps read as longs
  * ([[Tables.events]] converts them back), graft's SQL extensions, no
  * UI, WARN logging. AQE stays at Spark's default (on).
  */
object Session {

  /** The core count of a harness run: `SPARK_GRAFT_CPUS`, else 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  /** A local session on `cpus` cores; `conf` pairs are set last (a
    * main's catalog or metastore settings).
    */
  def local(cpus: Int, conf: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
