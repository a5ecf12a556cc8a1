package perfbench

import org.apache.spark.sql.SparkSession

/** The one session configuration every benchmark process uses:
  * `local[4]`, four shuffle partitions, no UI, and a codegen class
  * cache large enough that a pass never evicts its own classes. */
object Session {
  val Cores = 4

  def create(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.warehouse.dir", sys.props("perfbench.scratch") +
        "/warehouse")
      .config("spark.local.dir", sys.props("perfbench.scratch") + "/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Open each input table and count its rows: "inputs readable". */
  def readInputs(spark: SparkSession, dir: String,
                 tables: Seq[String]): Long =
    tables.map(t => graft.sources.Tables(spark, dir, t).count()).sum
}
