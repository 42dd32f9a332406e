package graft
import org.apache.spark.sql.SparkSession

/** The one session builder of every main and of the test session: what
  * the catalog assumes of its session lives here, once. */
object Sessions {
  /** A local session on `cpus` cores with one shuffle partition per core,
    * UTC session time, nanosecond parquet timestamps read as longs (the
    * round 1–5 `events.ts` files), the graft extensions, no UI, and
    * Spark's own logging at WARN. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
