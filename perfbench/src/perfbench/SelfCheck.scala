package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins [[Gen]] to the generator it mirrors: at seed 42 both must write
  * the same rows for every table (per-table row count plus the sums of
  * two independent row hashes, compared exactly). With
  * `ref=<dir>` the same fingerprint is also compared against a data
  * directory on disk, which is only read.
  *
  * `selfcheck dir=<scratch> sf=<sf> [ref=<dir>]`; prints one line per
  * table and exits 1 on any difference with `graft.tools.GenData`.
  */
object SelfCheck {
  def fingerprint(df: DataFrame): (Long, BigDecimal, Long) = {
    val cols = df.columns.map(col).toIndexedSeq
    val r = df.agg(count(lit(1)),
      sum(xxhash64(cols: _*).cast("decimal(38,0)")),
      sum(hash(cols: _*).cast("long"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)), r.getLong(2))
  }

  def apply(opt: Map[String, String]): Unit = {
    val spark = Session.create()
    val sf = opt("sf").toDouble
    val mine = s"${opt("dir")}/perfbench"
    val theirs = s"${opt("dir")}/gendata"
    Gen.generate(spark, mine, sf, 42L, Gen.All.toSet)
    graft.tools.GenData.generate(spark, theirs, sf)
    var bad = 0
    Gen.All.foreach { t =>
      def fp(dir: String) =
        fingerprint(if (t == "events") graft.sources.Tables.events(spark, dir)
          else graft.sources.Tables(spark, dir, t))
      graft.sources.Tables.tune(spark)
      val a = fp(mine)
      val b = fp(theirs)
      if (a != b) bad += 1
      val refNote = opt.get("ref").map { r =>
        val c = fp(r)
        s" ref ${if (c == a) "equal" else s"DIFFERENT (${c._1} rows)"}"
      }.getOrElse("")
      println(f"selfcheck $t%-10s ${a._1}%8d rows  GenData " +
        s"${if (a == b) "equal" else "DIFFERENT"}$refNote")
    }
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
