import graft.sources.TxnLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The deletion-vector read table: one aggregate over an 8-file,
  * range-clustered lineitem table (stats on l_orderkey), read as a
  * snapshot and through `format("txnlog")`, in full and on 1/16 of the
  * keys, before and after a DV delete of ~1% of the rows. Each read is
  * run once cold and then 5 times; the warm minimum is printed.
  * Compiled and run by dvread.py against one checkout's engine, so the
  * same reads can be timed on two commits. Arguments: sf dir, work dir. */
object DvRead {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, work) = args
    val spark = graft.Session.local()
    val li = graft.Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    val t = s"$work/dvread_${System.nanoTime}"
    TxnLog.create(spark, t, li.repartitionByRange(8, col("l_orderkey")),
      statsCols = Seq("l_orderkey"))
    val maxKey = li.agg(max("l_orderkey")).head.getLong(0)
    val narrow = col("l_orderkey") <= maxKey / 16
    def agg(df: DataFrame): Seq[Any] =
      df.agg(count(lit(1)), sum("l_quantity"), sum("l_extendedprice"))
        .head.toSeq
    val reads: Seq[(String, () => DataFrame)] = Seq(
      "snapshot full aggregate" -> (() => TxnLog.snapshot(spark, t)),
      "format(\"txnlog\") full aggregate" ->
        (() => spark.read.format("txnlog").load(t)),
      "snapshot + filter on 1/16 of keys" ->
        (() => TxnLog.snapshot(spark, t).filter(narrow)),
      "snapshotWhere on 1/16 of keys" -> (() => TxnLog.snapshotWhere(
        spark, t, "l_orderkey", 0L, maxKey / 16).filter(narrow)),
      "format(\"txnlog\") + the same filter" ->
        (() => spark.read.format("txnlog").load(t).filter(narrow)))
    def measure(): Seq[(String, Double, Seq[Any])] = reads.map {
      case (name, df) =>
        val answer = agg(df())
        val warm = (1 to 5).map { _ =>
          val t0 = System.nanoTime
          agg(df())
          (System.nanoTime - t0) / 1e9
        }.min
        (name, warm, answer)
    }
    val noDv = measure()
    TxnLog.deleteWhereDV(spark, t,
      pmod(xxhash64(col("l_orderkey"), col("l_partkey")), lit(100)) === 0)
    val dv = measure()
    val deleted = li.count() - TxnLog.snapshot(spark, t).count()
    println(s"DVREAD rows=${li.count()} dv_deleted=$deleted")
    noDv.zip(dv).foreach { case ((name, a, _), (_, b, _)) =>
      println(f"DVREAD | $name | $a%.3f s | $b%.3f s |")
    }
    // every read of one table state gives one answer
    Seq(noDv, dv).foreach { rs =>
      val full = rs.filter(_._1.contains("full")).map(_._3).distinct
      val part = rs.filterNot(_._1.contains("full")).map(_._3).distinct
      require(full.size == 1 && part.size == 1, s"read paths disagree: $rs")
    }
    println("DVREAD answers equal across read paths")
    spark.stop()
  }
}
