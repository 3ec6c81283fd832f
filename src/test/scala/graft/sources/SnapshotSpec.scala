package graft.sources

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** The manifest's typed form: literal manifest bodies parse into the
  * expected [[ManifestTable.Snapshot]] fields and survive a render →
  * re-parse, and every commit path keeps or drops exactly the markers it
  * always did (the carry matrix, read off the raw manifest text so it
  * does not depend on the parser under test). */
class SnapshotSpec extends AnyFunSuite {
  import graft.TestSpark._

  private val tmp = System.getProperty("java.io.tmpdir")
  private val pid = java.lang.ProcessHandle.current().pid()

  private def freshDir(tag: String): String = {
    val d = s"$tmp/graft_snap_${tag}_$pid"
    ManifestTable.destroy(d)
    d
  }

  // ---------------------------------------------------------------------
  // parse and render
  // ---------------------------------------------------------------------

  import ManifestTable.{DvEntry, Kind, Policy, Snapshot}

  private val schemaJson =
    """{"type":"struct","fields":[{"name":"id","type":"long","nullable":true,"metadata":{}}]}"""

  /** A data commit carrying every marker kind, in render order. */
  private val fullBody = Seq(
    "f1.parquet\tid=L:0:9;g=S:61:62\t__rows=10;__bytes=100",
    "f2.parquet\t__rows=5;__bytes=50;__bucket=1",
    "#dv\tk1.parquet\tid\tf1.parquet,f2.parquet\tf1.parquet=2,f2.parquet=0",
    "#dv\tp1.parquet\t_pos\tf2.parquet",
    "#rename\tx\tx1",
    "#rename\tx1\tx2",
    "#policy\tmask\tg\tg * 0",
    "#policy\tfilter\tg >= 0",
    "#prop\tcarry.p\t1",
    "#prop\tgraft.partitioning\tbucket(4, id)",
    s"#schema\t$schemaJson",
    "#epoch\tq1\t3",
    "#ts\t1700000000000").mkString("\n")

  private def roundTrips(dir: String, s: Snapshot): Unit =
    assert(ManifestTable.parse(dir, s.version,
      ManifestTable.render(s, s.kind)) == s)

  test("a manifest carrying every marker kind parses into its fields and renders back") {
    val s = ManifestTable.parse("/unused", 3, fullBody)
    assert(s == Snapshot(3, Kind.Data,
      files = Seq("f1.parquet\tid=L:0:9;g=S:61:62\t__rows=10;__bytes=100",
        "f2.parquet\t__rows=5;__bytes=50;__bucket=1"),
      dvs = Seq(
        DvEntry("k1.parquet", "id", Set("f1.parquet", "f2.parquet"),
          Map("f1.parquet" -> 2L, "f2.parquet" -> 0L)),
        DvEntry("p1.parquet", "_pos", Set("f2.parquet"))),
      renames = Seq("x" -> "x1", "x1" -> "x2"),
      policies = Seq(Policy(Some("g"), "g * 0"), Policy(None, "g >= 0")),
      props = Seq("carry.p" -> "1", "graft.partitioning" -> "bucket(4, id)"),
      schema = Some(schemaJson),
      epochs = Seq("q1" -> 3L),
      ts = Some(1700000000000L)))
    assert(s.names == Seq("f1.parquet", "f2.parquet"))
    assert(s.entries.map(_.bucket) == Seq(None, Some(1)))
    assert(s.finalNames == Map("x" -> "x2", "x1" -> "x2"))
    assert(s.aliasFamily("x").toSet == Set("x2", "x", "x1"))
    assert(s.epoch("q1").contains(3L) && s.epoch("q2").isEmpty)
    // the canonical order is the order the body was written in
    assert(ManifestTable.render(s, Kind.Data) == fullBody)
    roundTrips("/unused", s)
  }

  test("commit kinds, an empty property value and the empty table parse and round-trip") {
    val rw = ManifestTable.parse("/unused", 1,
      "#rewrite\na.parquet\t__rows=1;__bytes=9\n#ts\t5")
    assert(rw.kind == Kind.Rewrite && rw.names == Seq("a.parquet") &&
      rw.ts.contains(5L))
    val mu = ManifestTable.parse("/unused", 2,
      "#mutate\n#prop\tempty.v\t\n#epoch\tq\t7\n#ts\t6")
    assert(mu.kind == Kind.Mutate && mu.files.isEmpty &&
      mu.props == Seq("empty.v" -> "") && mu.epochs == Seq("q" -> 7L))
    Seq(rw, mu).foreach(roundTrips("/unused", _))
    // v = -1: the empty snapshot, which renders as an empty body
    val dir = freshDir("empty")
    assert(ManifestTable.snapshot(dir, -1) == Snapshot(-1))
    assert(ManifestTable.head(dir) == Snapshot(-1))
    assert(ManifestTable.render(Snapshot(-1), Kind.Data).isEmpty)
    roundTrips(dir, Snapshot(-1))
  }

  test("a segmented manifest list parses lazily and round-trips its summaries") {
    val dir = freshDir("seg")
    Files.createDirectories(Paths.get(dir, "meta"))
    Files.write(Paths.get(dir, "meta", "seg-a.txt"),
      "a1.parquet\tid=L:0:4\t__rows=5\na2.parquet\tid=L:5:9\t__rows=5"
        .getBytes("UTF-8"))
    Files.write(Paths.get(dir, "meta", "seg-b.txt"),
      "b1.parquet\tid=L:10:19\t__rows=10".getBytes("UTF-8"))
    val summaries = Seq("seg-a.txt\tid=L:0:9\t__rows=10\t__files=2",
      "seg-b.txt\tid=L:10:19\t__rows=10\t__files=1")
    val body = ("#rewrite" +: "#segments" +: summaries :+ "#ts\t9")
      .mkString("\n")
    val s = ManifestTable.parse(dir, 0, body)
    val seg = s.files match {
      case sf: ManifestTable.SegmentFiles => sf
      case other => fail(s"expected segment files, got $other")
    }
    assert(s.kind == Kind.Rewrite && seg.summaryLines == summaries &&
      seg.totalFiles == 3L)
    // resolving the whole list reads every segment's file lines
    assert(s.names == Seq("a1.parquet", "a2.parquet", "b1.parquet"))
    assert(ManifestTable.render(s, Kind.Rewrite) == body)
    roundTrips(dir, s)
    // an edited file list is a plain sequence and renders flat
    val flat = ManifestTable.render(s.copy(files = s.files :+ "c.parquet"),
      Kind.Data)
    assert(!flat.contains("#segments") && flat.contains("b1.parquet"))
  }

  // ---------------------------------------------------------------------
  // carry matrix
  // ---------------------------------------------------------------------

  private val Prefixes = Seq("#dv\t", "#rename\t", "#policy\t", "#prop\t",
    "#schema\t", "#epoch\t")

  private def headLines(dir: String): Seq[String] = {
    val v = ManifestTable.currentVersion(dir)
    new String(Files.readAllBytes(Paths.get(dir, f"manifest-v$v%08d.json")),
      "UTF-8").split('\n').map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** Commit kind of the head plus, per marker kind, how its lines relate
    * to the fixture head's: kept (same set), dropped (none left), grown
    * (a strict superset), changed (anything else), or absent (none
    * before or after). */
  private def signature(before: Seq[String], after: Seq[String]): String = {
    val kind = after.headOption.filter(h => h == "#rewrite" || h == "#mutate")
      .getOrElse("data")
    val marks = Prefixes.map { p =>
      val b = before.filter(_.startsWith(p)).toSet
      val a = after.filter(_.startsWith(p)).toSet
      val rel =
        if (a.isEmpty && b.isEmpty) "absent"
        else if (a == b) "kept"
        else if (a.isEmpty) "dropped"
        else if (b.subsetOf(a)) "grown"
        else "changed"
      s"${p.stripPrefix("#").trim}=$rel"
    }
    (kind +: marks).mkString(" ")
  }

  private def copyTree(src: String, dst: String): Unit = {
    val s = Files.walk(Paths.get(src))
    val all: Seq[Path] = try s.iterator().asScala.toList finally s.close()
    all.foreach { p =>
      val t = Paths.get(dst).resolve(Paths.get(src).relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    }
  }

  private def rows(lo: Long, hi: Long, xName: String) =
    spark.range(lo, hi).select(col("id"), (col("id") % 4).as("g"),
      (col("id") * 2).as(xName))

  /** A table holding a DV, a declared schema, a prop, an epoch and —
    * unless the path under test refuses them — a rename and a policy. */
  private def buildFixture(dir: String, rename: Boolean,
      policy: Boolean): Unit = {
    ManifestTable.merge(spark, dir, rows(0, 40, "x").coalesce(2), Seq("id"))
    ManifestTable.setTableProperty(dir, "carry.p", "1")
    ManifestTable.alterAtomic(dir,
      Seq(ManifestTable.AlterOp.AddCol("extra", IntegerType)))
    if (rename) ManifestTable.renameColumn(dir, "x", "x2")
    if (policy) ManifestTable.setPolicy(dir, Map("g" -> "g * 0"))
    ManifestTable.deleteKeysMOR(spark, dir, "id", Seq(3L))
    ManifestTable.upsertMOR(spark, dir,
      rows(100, 103, if (rename) "x2" else "x").coalesce(1), "id",
      epoch = Some(("q1", 1L)))
  }

  private val fixtures = scala.collection.mutable.Map[(Boolean, Boolean), String]()

  /** A private copy of the fixture table at `root/t` (the catalog's
    * `default.t`). */
  private def fixtureCopy(tag: String, rename: Boolean = true,
      policy: Boolean = true): String = {
    val tpl = fixtures.getOrElseUpdate((rename, policy), {
      val d = freshDir(s"tpl_${rename}_$policy")
      buildFixture(d, rename, policy)
      d
    })
    val root = freshDir(s"m_$tag")
    copyTree(tpl, s"$root/t")
    root
  }

  private def catalog(root: String): String = {
    val name = s"gsnap${root.hashCode.abs}"
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    s"$name.default.t"
  }

  /** Each path: (fixture rename, fixture policy, run on root → the table
    * directory whose head is compared). */
  private val paths: Seq[(String, Boolean, Boolean, String => String)] = Seq(
    ("append", true, true, { root =>
      ManifestTable.append(spark, s"$root/t", rows(200, 203, "x2")); s"$root/t" }),
    ("merge", true, true, { root =>
      ManifestTable.merge(spark, s"$root/t", rows(200, 203, "x2"), Seq("id"))
      s"$root/t" }),
    ("deleteKeys", false, true, { root =>
      ManifestTable.deleteKeys(spark, s"$root/t", "id", Seq(5L)); s"$root/t" }),
    ("updateKeys", false, true, { root =>
      ManifestTable.updateKeys(spark, s"$root/t", "id", Seq(6L),
        Map("g" -> lit(9L))); s"$root/t" }),
    ("deleteKeysMOR", true, true, { root =>
      ManifestTable.deleteKeysMOR(spark, s"$root/t", "id", Seq(7L)); s"$root/t" }),
    ("upsertMOR", true, true, { root =>
      ManifestTable.upsertMOR(spark, s"$root/t", rows(8, 10, "x2"), "id")
      s"$root/t" }),
    ("setTableProperty", true, true, { root =>
      ManifestTable.setTableProperty(s"$root/t", "carry.q", "2"); s"$root/t" }),
    ("removeTableProperty", true, true, { root =>
      ManifestTable.removeTableProperty(s"$root/t", "carry.p"); s"$root/t" }),
    ("setPolicy", true, true, { root =>
      ManifestTable.setPolicy(s"$root/t", Map.empty, Some("g >= 0"))
      s"$root/t" }),
    ("alterAtomic", true, true, { root =>
      ManifestTable.alterAtomic(s"$root/t", Seq(
        ManifestTable.AlterOp.SetProp("carry.q", "2"),
        ManifestTable.AlterOp.AddCol("more", StringType))); s"$root/t" }),
    ("setPartitioning", true, true, { root =>
      ManifestTable.setPartitioning(s"$root/t", "identity(g)"); s"$root/t" }),
    ("restore", true, true, { root =>
      val d = s"$root/t"
      ManifestTable.restore(d, ManifestTable.currentVersion(d) - 1); d }),
    ("cloneTable", true, true, { root =>
      ManifestTable.cloneTable(s"$root/t", s"$root/c"); s"$root/c" }),
    ("createBranch+fastForward", true, true, { root =>
      val d = s"$root/t"
      ManifestTable.createBranch(d, "b")
      ManifestTable.append(spark, ManifestTable.branchDir(d, "b"),
        rows(300, 302, "x2"))
      ManifestTable.fastForward(d, "b"); d }),
    ("compact", true, true, { root =>
      ManifestTable.compact(spark, s"$root/t"); s"$root/t" }),
    ("catalog INSERT", true, true, { root =>
      val t = catalog(root)
      spark.sql(s"INSERT INTO $t SELECT * FROM $t WHERE id = 1")
      s"$root/t" }),
    ("catalog MERGE", true, false, { root =>
      val t = catalog(root)
      rows(1, 3, "x2").withColumn("extra", lit(null).cast(IntegerType))
        .createOrReplaceTempView("snap_merge_src")
      spark.sql(s"""MERGE INTO $t t USING snap_merge_src s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
      s"$root/t" }),
    ("catalog DELETE", true, false, { root =>
      spark.sql(s"DELETE FROM ${catalog(root)} WHERE id = 5"); s"$root/t" })
  )

  /** What each path did at the commit that introduced [[Snapshot]]
    * (recorded before the change, so the table pins old behaviour). */
  private val expected: Map[String, String] = Map(
    "append" ->
      "data dv=kept rename=kept policy=kept prop=kept schema=kept epoch=kept",
    "merge" ->
      "data dv=kept rename=kept policy=kept prop=kept schema=kept epoch=kept",
    "deleteKeys" ->
      "#mutate dv=dropped rename=absent policy=kept prop=kept schema=kept epoch=kept",
    "updateKeys" ->
      "#mutate dv=dropped rename=absent policy=kept prop=kept schema=kept epoch=kept",
    "deleteKeysMOR" ->
      "#mutate dv=grown rename=kept policy=kept prop=kept schema=kept epoch=kept",
    "upsertMOR" ->
      "#mutate dv=grown rename=kept policy=kept prop=kept schema=kept epoch=kept",
    "setTableProperty" ->
      "data dv=kept rename=kept policy=kept prop=grown schema=kept epoch=kept",
    "removeTableProperty" ->
      "data dv=kept rename=kept policy=kept prop=dropped schema=kept epoch=kept",
    "setPolicy" ->
      "#mutate dv=kept rename=kept policy=changed prop=kept schema=kept epoch=kept",
    "alterAtomic" ->
      "data dv=kept rename=kept policy=kept prop=grown schema=changed epoch=kept",
    "setPartitioning" ->
      "data dv=kept rename=kept policy=kept prop=grown schema=kept epoch=kept",
    "restore" ->
      "#mutate dv=changed rename=kept policy=kept prop=kept schema=kept epoch=dropped",
    "cloneTable" ->
      "data dv=changed rename=kept policy=kept prop=kept schema=kept epoch=kept",
    "createBranch+fastForward" ->
      "#mutate dv=kept rename=kept policy=kept prop=kept schema=kept epoch=kept",
    "compact" ->
      "#rewrite dv=dropped rename=dropped policy=kept prop=kept schema=kept epoch=kept",
    "catalog INSERT" ->
      "data dv=kept rename=kept policy=kept prop=kept schema=kept epoch=kept",
    "catalog MERGE" ->
      "#mutate dv=changed rename=kept policy=absent prop=kept schema=kept epoch=kept",
    "catalog DELETE" ->
      "#mutate dv=changed rename=kept policy=absent prop=kept schema=kept epoch=kept")

  test("carry matrix: every commit path keeps or drops the markers it always did") {
    val got = paths.map { case (name, rename, policy, run) =>
      val root = fixtureCopy(name.replaceAll("[^A-Za-z]", ""), rename, policy)
      val before = headLines(s"$root/t")
      val dir = run(root)
      name -> signature(before, headLines(dir))
    }
    got.foreach { case (n, s) =>
      assert(expected.get(n).contains(s), s"$n: got '$s'")
    }
  }
}
