package graft

import java.nio.file.Files

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.sources.TxnLog
import graft.sources.TxnLog.MergeClause

/** Randomized differential test of the general MERGE clause engine:
  * every trial builds a small keyed table plus a dup-free source,
  * draws a random clause set (conditions over either side, UPDATE /
  * DELETE / INSERT actions, NOT MATCHED BY SOURCE, differently-named
  * keys), runs [[TxnLog.merge]], and compares the resulting snapshot
  * against a PLAIN-SCALA reference evaluator implementing SQL MERGE
  * semantics (first-match-wins clause order, NULL condition = false,
  * unmatched rows kept). The clause set is data (a tiny ADT), so the
  * engine Columns and the reference booleans are derived from the
  * SAME spec — a disagreement is a genuine semantics bug, not a test
  * artifact. Seeds are fixed: failures reproduce. */
class MergePropertySpec extends SparkSpec {

  // ── clause spec ADT: one source of truth for both evaluators ──────
  private sealed trait Cond
  private case object Always extends Cond
  private case class SrcGt(c: Int) extends Cond   // __s.sv > c
  private case class TgtGt(c: Int) extends Cond   // __t.tv > c
  private sealed trait Act
  private case object Del extends Act
  private case object SetFromSrc extends Act      // tv = sv
  private case object Bump extends Act            // tv = tv + 1 (matched/nmbs)
  private case class Spec(cond: Cond, act: Act)

  private def condCol(c: Cond): Option[Column] = c match {
    case Always => None
    case SrcGt(v) => Some(col("__s.sv") > v)
    case TgtGt(v) => Some(col("__t.tv") > v)
  }
  private def condRef(c: Cond, t: Option[Int], s: Option[Int]): Boolean =
    c match {
      case Always => true
      case SrcGt(v) => s.exists(_ > v)  // NULL side → false, SQL's rule
      case TgtGt(v) => t.exists(_ > v)
    }

  private def matchedClause(sp: Spec): MergeClause = sp.act match {
    case Del => MergeClause(condCol(sp.cond), isDelete = true, Nil)
    case SetFromSrc => MergeClause(condCol(sp.cond), isDelete = false,
      Seq("tv" -> col("__s.sv")))
    case Bump => MergeClause(condCol(sp.cond), isDelete = false,
      Seq("tv" -> (col("__t.tv") + 1)))
  }
  private def insertClause(sp: Spec): MergeClause =
    MergeClause(condCol(sp.cond), isDelete = false,
      Seq("k" -> col("__s.sk"), "tv" -> col("__s.sv")))

  /** The reference evaluator: SQL MERGE over in-memory rows. */
  private def reference(tRows: Map[Int, Int], sRows: Map[Int, Int],
                        matched: Seq[Spec], notMatched: Seq[Spec],
                        nmbs: Seq[Spec]): Map[Int, Int] = {
    val out = scala.collection.mutable.Map.empty[Int, Int]
    tRows.foreach { case (k, tv) =>
      sRows.get(k) match {
        case Some(sv) =>
          matched.find(sp => condRef(sp.cond, Some(tv), Some(sv))) match {
            case Some(Spec(_, Del)) => ()              // deleted
            case Some(Spec(_, SetFromSrc)) => out(k) = sv
            case Some(Spec(_, Bump)) => out(k) = tv + 1
            case None => out(k) = tv                   // no clause fired
          }
        case None =>
          nmbs.find(sp => condRef(sp.cond, Some(tv), None)) match {
            case Some(Spec(_, Del)) => ()
            case Some(Spec(_, Bump)) => out(k) = tv + 1
            case Some(Spec(_, SetFromSrc)) =>
              sys.error("nmbs cannot read the source") // never generated
            case None => out(k) = tv
          }
      }
    }
    sRows.foreach { case (k, sv) =>
      if (!tRows.contains(k))
        notMatched.find(sp => condRef(sp.cond, None, Some(sv)))
          .foreach(_ => out(k) = sv)
    }
    out.toMap
  }

  /** The target's rows beyond the drawn keys 0..14 in the LARGE shape:
    * 300 rows in one file with stats on `k`, so a batch of keys 0..19
    * touches a few percent of it and the merge masks the rows it changes
    * with a deletion vector. The SMALL shape is the drawn rows alone, a
    * file the batch touches heavily, which the merge copies on write.
    * A NOT MATCHED BY SOURCE clause reads every row, so it copies in
    * either shape. */
  private val filler: Map[Int, Int] = (100 until 400).map(k => k -> k % 20).toMap

  /** The commit of a merge took the write strategy its shape implies:
    * the small shape never masks, and the large one, with no NOT
    * MATCHED BY SOURCE clause, never copies and masks every row it
    * changes (`changed`: some target row was updated or deleted). */
  private def assertStrategy(t: String, v: Long, large: Boolean,
                             nmbs: Seq[Spec], changed: Boolean,
                             ctx: String): Unit = {
    import scala.jdk.CollectionConverters._
    val lines = Files.readAllLines(java.nio.file.Paths.get(t, "_txn_log",
      f"$v%020d.log")).asScala
    if (!large) assert(!lines.exists(_.startsWith("dv")), ctx)
    else if (nmbs.isEmpty) {
      assert(!lines.exists(_.startsWith("remove\t")), ctx)
      assert(lines.exists(_.startsWith("dv\t")) == changed, ctx)
    }
  }

  test("random clause sets: engine snapshot == reference semantics") {
    snapshotTrials(new scala.util.Random(421551), 14, large = false)
    snapshotTrials(new scala.util.Random(90210), 8, large = true)
  }

  private def snapshotTrials(rnd: scala.util.Random, trials: Int,
                             large: Boolean): Unit =
    (1 to trials).foreach { trial =>
      val tRows = (0 to 14).filter(_ => rnd.nextBoolean())
        .map(k => k -> rnd.nextInt(20)).toMap ++
        (if (large) filler else Map.empty[Int, Int])
      val sRows = (0 to 19).filter(_ => rnd.nextBoolean())
        .map(k => k -> rnd.nextInt(20)).toMap
      def cond(): Cond = rnd.nextInt(3) match {
        case 0 => Always
        case 1 => SrcGt(rnd.nextInt(20))
        case 2 => TgtGt(rnd.nextInt(20))
      }
      def mAct(): Act = rnd.nextInt(3) match {
        case 0 => Del; case 1 => SetFromSrc; case 2 => Bump
      }
      var matched = Seq.fill(rnd.nextInt(3))(Spec(cond(), mAct()))
      var notMatched = Seq.fill(rnd.nextInt(2))(Spec(cond(), SetFromSrc))
      var nmbs = Seq.fill(rnd.nextInt(2))(
        Spec(cond(), if (rnd.nextBoolean()) Del else Bump))
      if (matched.isEmpty && notMatched.isEmpty && nmbs.isEmpty)
        notMatched = Seq(Spec(Always, SetFromSrc))
      // guard the generator's own rule: matched UPDATE needs assigns —
      // always true here (Del carries none, the rest assign tv)
      val dir = Files.createTempDirectory("graft_mprop_")
      dir.toFile.deleteOnExit()
      val t = dir.resolve("t").toString
      val tDf =
        if (tRows.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("k",
                org.apache.spark.sql.types.IntegerType),
              org.apache.spark.sql.types.StructField("tv",
                org.apache.spark.sql.types.IntegerType))))
        else spark.createDataFrame(tRows.toSeq).toDF("k", "tv")
      if (tRows.isEmpty) TxnLog.createEmpty(spark, t, tDf.schema)
      else if (large) TxnLog.create(spark, t, tDf.coalesce(1),
        statsCols = Seq("k"))
      else TxnLog.create(spark, t, tDf)
      val sDf = spark.createDataFrame(
        (if (sRows.isEmpty) Seq((-99, 0)) else sRows.toSeq))
        .toDF("sk", "sv")
      val sEff = if (sRows.isEmpty) Map(-99 -> 0) else sRows
      val v = TxnLog.merge(spark, t, sDf, keys = Seq("k"),
        matched = matched.map(matchedClause),
        notMatched = notMatched.map(insertClause),
        notMatchedBySource = nmbs.map(matchedClause),
        sourceKeys = Seq("sk"))
      val got = TxnLog.snapshot(spark, t).collect()
        .map(r => r.getInt(0) -> r.getInt(1)).toMap
      val want = reference(tRows, sEff, matched, notMatched, nmbs)
      val ctx = s"trial $trial (large=$large) diverged:\n" +
        s"  target=$tRows\n  source=$sEff\n" +
        s"  matched=$matched\n  notMatched=$notMatched\n" +
        s"  nmbs=$nmbs\n  engine=$got\n  reference=$want"
      assert(got == want, ctx)
      assertStrategy(t, v, large, nmbs, referenceChanges(tRows, sEff,
        matched, notMatched, nmbs).exists(_._1 != "insert"), ctx)
      TempWork.deleteRecursively(dir)
    }

  /** The change rows SQL MERGE implies, as (_change_type, k, tv):
    * pre/post for every fired non-delete matched or NOT MATCHED BY
    * SOURCE clause, `delete` per deleted row, `insert` per inserted
    * row. */
  private def referenceChanges(tRows: Map[Int, Int], sRows: Map[Int, Int],
                               matched: Seq[Spec], notMatched: Seq[Spec],
                               nmbs: Seq[Spec]): Seq[(String, Int, Int)] = {
    def fired(sp: Option[Spec], k: Int, tv: Int, sv: Option[Int]) =
      sp match {
        case Some(Spec(_, Del)) => Seq(("delete", k, tv))
        case Some(Spec(_, act)) =>
          val nv = if (act == Bump) tv + 1 else sv.get
          Seq(("update_preimage", k, tv), ("update_postimage", k, nv))
        case None => Nil
      }
    tRows.toSeq.flatMap { case (k, tv) =>
      sRows.get(k) match {
        case Some(sv) => fired(
          matched.find(sp => condRef(sp.cond, Some(tv), Some(sv))),
          k, tv, Some(sv))
        case None => fired(
          nmbs.find(sp => condRef(sp.cond, Some(tv), None)), k, tv, None)
      }
    } ++ sRows.toSeq.collect { case (k, sv) if !tRows.contains(k) &&
        notMatched.exists(sp => condRef(sp.cond, None, Some(sv))) =>
      ("insert", k, sv)
    }
  }

  test("random clause sets: change feed == reference change rows") {
    changeFeedTrials(new scala.util.Random(77031), 12, large = false)
    changeFeedTrials(new scala.util.Random(60622), 8, large = true)
  }

  private def changeFeedTrials(rnd: scala.util.Random, trials: Int,
                               large: Boolean): Unit = {
    import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField,
      StructType}
    val schema = StructType(Seq(StructField("k", IntegerType),
      StructField("tv", IntegerType), StructField("d", DoubleType)))
    (1 to trials).foreach { trial =>
      // a drifting assignment gives another value on every execution;
      // the post-images must still be the rows the snapshot holds
      val drift: Option[Column] = trial % 4 match {
        case 0 => Some(rand())
        case 1 => Some(unix_micros(current_timestamp()).cast("double"))
        case _ => None
      }
      val tRows = (0 to 14).filter(_ => rnd.nextBoolean())
        .map(k => k -> rnd.nextInt(20)).toMap ++
        (if (large) filler else Map.empty[Int, Int])
      val sRows = (0 to 19).filter(_ => rnd.nextBoolean())
        .map(k => k -> rnd.nextInt(20)).toMap
      def cond(): Cond = rnd.nextInt(3) match {
        case 0 => Always
        case 1 => SrcGt(rnd.nextInt(20))
        case 2 => TgtGt(rnd.nextInt(20))
      }
      def mAct(): Act = rnd.nextInt(3) match {
        case 0 => Del; case 1 => SetFromSrc; case 2 => Bump
      }
      val matched = Seq.fill(rnd.nextInt(3))(Spec(cond(), mAct()))
      var notMatched = Seq.fill(rnd.nextInt(2))(Spec(cond(), SetFromSrc))
      val nmbs = Seq.fill(rnd.nextInt(2))(
        Spec(cond(), if (rnd.nextBoolean()) Del else Bump))
      if (matched.isEmpty && notMatched.isEmpty && nmbs.isEmpty)
        notMatched = Seq(Spec(Always, SetFromSrc))
      def drifted(c: MergeClause) =
        if (c.isDelete) c
        else c.copy(assignments = c.assignments ++ drift.map("d" -> _))
      val dir = Files.createTempDirectory("graft_mcdf_")
      dir.toFile.deleteOnExit()
      val t = dir.resolve("t").toString
      val tDf = spark.createDataFrame(
        spark.sparkContext.parallelize(tRows.toSeq.map { case (k, tv) =>
          org.apache.spark.sql.Row(k, tv, k * 0.5) }), schema)
      if (tRows.isEmpty) TxnLog.createEmpty(spark, t, schema)
      else if (large) TxnLog.create(spark, t, tDf.coalesce(1),
        statsCols = Seq("k"))
      else TxnLog.create(spark, t, tDf)
      val sEff = if (sRows.isEmpty) Map(-99 -> 0) else sRows
      val v = TxnLog.merge(spark, t,
        spark.createDataFrame(sEff.toSeq).toDF("sk", "sv"), keys = Seq("k"),
        matched = matched.map(matchedClause).map(drifted),
        notMatched = notMatched.map(insertClause).map(drifted),
        notMatchedBySource = nmbs.map(matchedClause).map(drifted),
        sourceKeys = Seq("sk"))
      val snap = TxnLog.snapshot(spark, t).collect()
        .map(r => r.getInt(0) -> r).toMap
      val changes = TxnLog.changesBetween(spark, t, v - 1, v)
        .select("_change_type", "k", "tv", "d").collect().toSeq
      val got = changes.map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
      val want = referenceChanges(tRows, sEff, matched, notMatched, nmbs)
      val ctx = s"trial $trial (large=$large): target=$tRows source=$sEff " +
        s"matched=$matched notMatched=$notMatched nmbs=$nmbs drift=$drift"
      assert(got.sorted == want.sorted, ctx)
      assertStrategy(t, v, large, nmbs, want.exists(_._1 != "insert"), ctx)
      changes.foreach { r =>
        val k = r.getInt(1)
        r.getString(0) match {
          case "update_preimage" | "delete" =>
            assert(r.getDouble(3) == k * 0.5, s"pre-image of $k; $ctx")
          case _ =>
            val s = snap(k)
            assert(r.getInt(2) == s.getInt(1) && r.get(3) == s.get(2),
              s"post-image $r is not the committed row $s; $ctx")
        }
      }
      TempWork.deleteRecursively(dir)
    }
  }
}
