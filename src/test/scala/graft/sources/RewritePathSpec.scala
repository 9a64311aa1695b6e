package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The copy-on-write invariants the eight file-rewriting mutations of
  * [[Versioned]] share through its one write path (`land` + `rewrite`),
  * as one table: op × table state. The fixture is 40 rows
  * (k, g, v) range-clustered on k over 4 files; g is banded on the low
  * keys and scattered on the high ones, so a recluster on g has both
  * conforming and violating files. Every row asserts that
  *   - the read equals an in-memory model of the op;
  *   - every file the op provably does not touch is carried by path;
  *   - the manifest's `dvRows` equals the count of DV entries that
  *     address live files (the touched files' entries are dropped);
  *   - on a bloom-indexed table every file carries a bloom bitset;
  * and, for the ops that land new rows (UPDATE, MERGE, replaceWhere),
  * that a CHECK violation leaves neither a new version nor a new
  * directory under `data/`. */
class RewritePathSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private type Row3 = (Long, Long, String)

  private val base: Seq[Row3] = (1L to 40L).map { k =>
    (k, if (k <= 20) k / 10 else (k * 7) % 40, s"v$k")
  }

  private def parse(e: String) = spark.sessionState.sqlParser.parseExpression(e)

  /** A table state: name, its setup, and the model rows it leaves. */
  private case class State(name: String, setup: String => Unit,
      model: Seq[Row3] => Seq[Row3] = identity, valueCol: String = "v")

  private val states = Seq(
    State("plain", _ => ()),
    State("renamed column", t => Versioned.renameColumn(spark, t, "v", "w"),
      valueCol = "w"),
    State("live DV",
      t => Versioned.deleteMergeOnRead(spark, t, Seq(3L, 25L).toDF("k"), "k"),
      _.filterNot(r => r._1 == 3L || r._1 == 25L)),
    State("bloom index",
      t => Versioned.addBloomIndex(spark, t, "g", bits = 1 << 10)))

  /** One rewriting op: how to run it (table, value column), its model,
    * which pre-op files it must carry (given the pre-op snapshot), and
    * — for gated ops — a run whose new rows violate `g >= 0`. */
  private case class Op(name: String, run: (String, String) => Unit,
      model: Seq[Row3] => Seq[Row3],
      carries: (Versioned.Snapshot, Versioned.DataFile) => Boolean,
      violate: Option[(String, String) => Unit] = None,
      refusedWhenMapped: Boolean = false)

  private def range(f: Versioned.DataFile, c: String): (Long, Long) =
    f.stats(c).longRange.get

  /** The file's k range provably misses every key in `ks`. */
  private def misses(ks: Long*)(s: Versioned.Snapshot,
      f: Versioned.DataFile): Boolean = {
    val (lo, hi) = range(f, "k")
    ks.forall(k => k < lo || k > hi)
  }

  private def mergeRun(src: Seq[Row3])(t: String, vc: String): Unit =
    Versioned.mergeInto(spark, t, src.toDF("sk", "sg", "sv"),
      parse("__t_k = __s_sk"),
      matched = Seq(Versioned.UpdateAct(None,
        Seq("g" -> parse("__s_sg"), vc -> parse("__s_sv")))),
      notMatched = Seq(Versioned.InsertAct(None,
        Seq("k" -> parse("__s_sk"), "g" -> parse("__s_sg"),
          vc -> parse("__s_sv")))),
      notMatchedBySource = Nil)

  private def replaceRun(row: Row3)(t: String, vc: String): Unit =
    Versioned.replaceWhereRange(spark, t, 4L, 6L, Seq(row).toDF("k", "g", vc))

  private val ops = Seq(
    Op("compactSmallFiles",
      (t, _) => Versioned.compactSmallFiles(spark, t, 1L << 30),
      identity, (_, _) => false), // every fixture file is small
    Op("reclusterIncremental",
      (t, _) => Versioned.reclusterIncremental(spark, t, "g", files = 2),
      identity, { (s, f) =>
        val spans = s.files.map(range(_, "g"))
        val width = math.max(1L, spans.map(_._2).max - spans.map(_._1).min)
        val (lo, hi) = range(f, "g")
        (hi - lo).toDouble <= 0.5 * width
      }),
    Op("rewriteFilesByKey",
      (t, _) => Versioned.rewriteFilesByKey(spark, t, "k", Seq(5L), None,
        "LAYOUT", Versioned.latestVersion(spark, t))(
        _.withColumn("v", when(col("k") === 5L, lit("r")).otherwise(col("v")))),
      _.map(r => if (r._1 == 5L) r.copy(_3 = "r") else r), misses(5L),
      refusedWhenMapped = true),
    Op("deleteWhereKeyIn",
      (t, _) => Versioned.deleteWhereKeyIn(spark, t,
        Seq(5L, 36L).toDF("k"), "k"),
      _.filterNot(r => r._1 == 5L || r._1 == 36L), misses(5L, 36L)),
    Op("deleteWhereExpr",
      (t, _) => Versioned.deleteWhere(spark, t, "k = 5 OR k = 36"),
      _.filterNot(r => r._1 == 5L || r._1 == 36L), misses(5L, 36L)),
    Op("updateWhere",
      (t, vc) => Versioned.updateWhere(spark, t, Some(parse("k = 5")),
        Seq(vc -> parse("'upd'"))),
      _.map(r => if (r._1 == 5L) r.copy(_3 = "upd") else r), misses(5L),
      violate = Some((t, _) => Versioned.updateWhere(spark, t,
        Some(parse("k = 5")), Seq("g" -> parse("-1"))))),
    Op("mergeInto",
      mergeRun(Seq((5L, 2L, "m"), (100L, 1L, "new"))),
      rows => rows.map(r => if (r._1 == 5L) (5L, 2L, "m") else r) :+
        ((100L, 1L, "new")),
      misses(5L),
      violate = Some(mergeRun(Seq((5L, -1L, "bad"))))),
    Op("replaceWhereRange",
      replaceRun((5L, 2L, "rep")),
      rows => rows.filterNot(r => r._1 >= 4L && r._1 <= 6L) :+ ((5L, 2L, "rep")),
      misses(4L, 5L, 6L),
      violate = Some(replaceRun((5L, -1L, "bad")))))

  private def fixture(tag: String, st: State): String = {
    val t = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), s"rw_$tag").toString
    Versioned.commit(spark, t, base.toDF("k", "g", "v"), Some("k"), 4)
    st.setup(t)
    t
  }

  private def tag(op: Op, st: State) =
    s"${op.name}_${st.name.replace(' ', '_')}"

  private def dataDirs(t: String): Set[String] =
    Option(new java.io.File(t, "data").list()).fold(Set.empty[String])(_.toSet)

  for (op <- ops; st <- states) test(s"${op.name} × ${st.name}") {
    val t = fixture(tag(op, st), st)
    val before = Versioned.snapshot(spark, t)
    if (op.refusedWhenMapped && before.mapping.isDefined) {
      // partial rewrites refuse column-mapped tables up front
      intercept[IllegalArgumentException](op.run(t, st.valueCol))
      assert(Versioned.latestVersion(spark, t) == before.version)
    } else {
      op.run(t, st.valueCol)
      val after = Versioned.snapshot(spark, t)
      assert(after.version == before.version + 1, "one commit per op")
      val got = Versioned.read(spark, t)
        .select(col("k"), col("g"), col(st.valueCol))
        .as[Row3].collect().toSet
      val want = op.model(st.model(base)).toSet
      assert(got == want, s"missing=${want -- got} extra=${got -- want}")
      val kept = after.files.map(_.path).toSet
      val mustCarry = before.files.filter(op.carries(before, _)).map(_.path)
      assert(mustCarry.forall(kept), s"untouched files not carried: " +
        s"${mustCarry.filterNot(kept)}")
      val names = after.files.map(_.path.split('/').last).toSet
      val dvEntries = after.dv.fold(Seq.empty[String])(rel =>
        spark.read.parquet(Versioned.resolve(t, rel).toString)
          .select("__dv_file").as[String].collect().toSeq)
      val liveEntries = dvEntries.count(p => names(p.split('/').last))
      assert(after.dvRows.getOrElse(0L) == liveEntries &&
        dvEntries.size == liveEntries,
        s"dvRows ${after.dvRows} vs ${dvEntries.size} entries, " +
          s"$liveEntries live")
      if (before.bloomCfg.isDefined)
        assert(after.files.forall(_.bloom.isDefined),
          "every file (carried or landed) carries a bloom bitset")
    }
  }

  test("zero-match rule: a rewrite that touches nothing mints no version") {
    val t = fixture("zero", states.head)
    val v = Versioned.latestVersion(spark, t)
    val noops: Seq[(String, () => Unit)] = Seq(
      "deleteWhereKeyIn" -> (() =>
        Versioned.deleteWhereKeyIn(spark, t, Seq(999L).toDF("k"), "k")),
      "deleteWhereExpr" -> (() => Versioned.deleteWhere(spark, t, "k = 999")),
      "updateWhere" -> (() => assert(Versioned.updateWhere(spark, t,
        Some(parse("k = 999")), Seq("v" -> parse("'x'"))) == 0L)),
      "mergeInto" -> (() => assert(Versioned.mergeInto(spark, t,
        Seq((999L, "x")).toDF("sk", "sv"), parse("__t_k = __s_sk"),
        Seq(Versioned.UpdateAct(None, Seq("v" -> parse("__s_sv")))),
        Nil, Nil) == Versioned.MergeStats(0L, 0L, 0L))),
      // already clustered on k: every file conforms, the key is unchanged
      "reclusterIncremental" -> (() =>
        Versioned.reclusterIncremental(spark, t, "k")))
    noops.foreach { case (name, run) =>
      run()
      assert(Versioned.latestVersion(spark, t) == v, s"$name minted a version")
    }
  }

  for (op <- ops; violate <- op.violate; st <- states)
    test(s"${op.name} × ${st.name}: a CHECK violation lands nothing") {
      val t = fixture(tag(op, st) + "_chk", st)
      Versioned.addCheckConstraint(spark, t, "g_nonneg", "g >= 0")
      val v = Versioned.latestVersion(spark, t)
      val dirs = dataDirs(t)
      intercept[Versioned.ConstraintViolationException](violate(t, st.valueCol))
      assert(Versioned.latestVersion(spark, t) == v, "no version landed")
      assert(dataDirs(t) == dirs,
        s"landed directory left behind: ${dataDirs(t) -- dirs}")
    }
}
