package graft.layout

import java.nio.file.{Files, Paths}
import java.util.Properties

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}
import graft.SparkSpec

/** Commit-protocol contract of [[LayoutTxn]] — the stage / CAS-claim /
  * whole-dir-rename discipline the index layers (IVF cells, inverted-index
  * term buckets) commit through since r15. Mirrors MergeTableSpec's
  * crash/claim fabrication: the protocol's failure states are fabricated on
  * disk exactly as a crashed or racing writer would leave them, then the
  * recovery/conflict behavior is asserted. The r15 format's observables:
  * committed data lives in IMMUTABLE `_lv<n>` version dirs (plus untouched
  * version-0 root dirs), the `_layout_version` map names each partition's
  * owning version, and reads go through [[LayoutTxn.readLayout]] — a plain
  * hive read skips the `_`-prefixed version dirs BY DESIGN (that is what
  * makes them invisible while staged and immutable once published).
  * IvfUpsertSpec / IndexLayoutSpec cover the wired call sites;
  * LayoutIsolationSpec pins the reader-snapshot claims; THIS spec pins the
  * commit protocol itself. */
class LayoutTxnSpec extends SparkSpec {
  import spark.implicits._

  private def newDir(tag: String): String =
    Files.createTempDirectory(tag).toString + "/layout"

  private def rows(kv: (Int, Long)*) = kv.toDF("p", "id")

  private def group(df: org.apache.spark.sql.DataFrame, parts: Seq[Int]) =
    LayoutTxn.Group("", df, "p", Seq("id"), parts.map(i => s"p=$i"))

  /** Snapshot-isolated content read — the only read the format supports
    * after a commit (data moves into `_lv<n>` dirs hive discovery skips). */
  private def readIds(dir: String): Seq[(Int, Long)] =
    LayoutTxn.readLayout(spark, dir, "", "p")
      .select(col("p").cast("int"), col("id"))
      .as[(Int, Long)].collect().toSeq.sorted

  /** The current snapshot's partition dir names (map keys). */
  private def livedParts(dir: String, sub: String = ""): Set[String] =
    LayoutTxn.resolve(dir, sub, "p").map(_._1).toSet

  /** Fabricate a CLAIMED-but-unpublished commit: stage the replacement and
    * publish the claim file exactly as commit() would, then stop — the
    * crash-between-claim-and-publish state. Returns the stage dir name. */
  private def fabricateClaimedCommit(dir: String, version: Long,
                                     df: org.apache.spark.sql.DataFrame,
                                     parts: Seq[Int],
                                     partcol: Option[String] = Some("p")): String = {
    val stage = s"_lstage_v${version}_fabricated"
    DataLayout.writePartitionedSorted(df, s"$dir/$stage", Seq("p"), Seq("id"))
    val present = Option(new java.io.File(s"$dir/$stage").listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("p="))
      .map(_.getName).toSet
    val touched = parts.map(i => s"p=$i")
    val pr = new Properties()
    pr.setProperty("version", version.toString)
    pr.setProperty("stage", stage)
    pr.setProperty("ts", System.currentTimeMillis().toString)
    pr.setProperty("groups", "1")
    pr.setProperty("group.0.sub", "")
    partcol.foreach(pc => pr.setProperty("group.0.partcol", pc))
    pr.setProperty("group.0.moves", touched.filter(present.contains).mkString(","))
    pr.setProperty("group.0.dels", touched.filterNot(present.contains).mkString(","))
    val out = Files.newOutputStream(Paths.get(dir, s"_layout_commit_v$version"))
    try pr.store(out, "fabricated claim") finally out.close()
    stage
  }

  test("commit advances the version, repoints touched partitions into the immutable _lv dir, drops emptied ones from the map, leaves the rest bit-for-bit") {
    val dir = newDir("ltxn_basic")
    val p0 = LayoutTxn.begin(dir)
    assert(p0 === 0L)
    LayoutTxn.commit(spark, dir, p0,
      Seq(group(rows(0 -> 1L, 1 -> 2L, 2 -> 3L), Seq(0, 1, 2))))
    assert(LayoutTxn.currentVersion(dir) === 1L)
    // r14: the commit stamps its wall-clock into the version file
    val (_, ts1) = LayoutTxn.currentVersionInfo(dir)
    assert(ts1 > 0L && ts1 <= System.currentTimeMillis())
    // v1 data lives in the immutable _lv1 dir, invisible to plain hive reads
    assert(Files.isDirectory(Paths.get(s"$dir/_lv1/p=2")))
    val p2Path = LayoutTxn.resolve(dir, "", "p").toMap.apply("p=2")
    val p2Before = Files.list(Paths.get(p2Path)).toArray.toSeq
      .map(_.toString).sorted
      .map(p => p -> Files.getLastModifiedTime(Paths.get(p)))
    // v2: rewrite p=0 (new contents), empty p=1 (deletion); p=2 untouched
    LayoutTxn.commit(spark, dir, LayoutTxn.begin(dir),
      Seq(group(rows(0 -> 9L), Seq(0, 1))))
    assert(LayoutTxn.currentVersion(dir) === 2L)
    // emptied partition leaves the MAP (its bytes in _lv1 stay immutable
    // until the whole dir is unreferenced — reclamation is begin()'s job)
    assert(livedParts(dir) === Set("p=0", "p=2"))
    assert(LayoutTxn.resolve(dir, "", "p").toMap.apply("p=0")
      .contains("_lv2"), "touched partition must repoint to the new version dir")
    val p2After = Files.list(Paths.get(p2Path)).toArray.toSeq
      .map(_.toString).sorted
      .map(p => p -> Files.getLastModifiedTime(Paths.get(p)))
    assert(p2After === p2Before, "untouched partition must be bit-for-bit intact")
    assert(readIds(dir) === Seq(0 -> 9L, 2 -> 3L))
    // no stage residue beyond the immutable history files
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(!names.exists(_.startsWith("_lstage_")), s"stage residue in $names")
  }

  test("a plain-rebuilt (version-0) layout commits its first delta: untouched ROOT partitions stay mapped at version 0 and are never rewritten") {
    val dir = newDir("ltxn_v0")
    // the writeIvfLayout shape: a full rebuild writes plain hive dirs, no
    // version file — the pre-protocol / freshly-rebuilt state
    DataLayout.writePartitionedSorted(rows(0 -> 1L, 1 -> 2L), dir, Seq("p"), Seq("id"))
    assert(LayoutTxn.currentVersion(dir) === 0L)
    val rootP1 = Files.list(Paths.get(s"$dir/p=1")).toArray.toSeq
      .map(_.toString).sorted
      .map(p => p -> Files.getLastModifiedTime(Paths.get(p)))
    LayoutTxn.commit(spark, dir, LayoutTxn.begin(dir),
      Seq(group(rows(0 -> 9L), Seq(0))))
    val m = LayoutTxn.resolve(dir, "", "p").toMap
    assert(m("p=0").contains("_lv1"))
    assert(m("p=1") === s"$dir/p=1", "untouched root partition reads in place")
    assert(Files.list(Paths.get(s"$dir/p=1")).toArray.toSeq
      .map(_.toString).sorted
      .map(p => p -> Files.getLastModifiedTime(Paths.get(p))) === rootP1)
    assert(readIds(dir) === Seq(0 -> 9L, 1 -> 2L))
  }

  test("racing writers against one parent: exactly one wins the CAS, the loser conflicts with its stage cleaned") {
    val dir = newDir("ltxn_race")
    LayoutTxn.commit(spark, dir, LayoutTxn.begin(dir),
      Seq(group(rows(0 -> 1L), Seq(0))))
    val parent = LayoutTxn.begin(dir) // both writers read parent = 1
    LayoutTxn.commit(spark, dir, parent,
      Seq(group(rows(1 -> 10L), Seq(1)))) // writer A wins v2
    val e = intercept[LayoutTxn.ConflictException] {
      LayoutTxn.commit(spark, dir, parent,
        Seq(group(rows(2 -> 20L), Seq(2)))) // writer B loses the CAS
    }
    assert(e.getMessage.contains("version 2"))
    // winner's commit intact, loser left NO trace: no mapped partition, no stage
    assert(LayoutTxn.currentVersion(dir) === 2L)
    assert(readIds(dir) === Seq(0 -> 1L, 1 -> 10L))
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(!names.exists(_.startsWith("_lstage_")), s"loser stage residue: $names")
    assert(!livedParts(dir).contains("p=2"))
    // the loser's documented retry: re-begin against the new version
    LayoutTxn.commit(spark, dir, LayoutTxn.begin(dir),
      Seq(group(rows(2 -> 20L), Seq(2))))
    assert(readIds(dir) === Seq(0 -> 1L, 1 -> 10L, 2 -> 20L))
  }

  test("a commit crashed between claim and publish is rolled FORWARD by the next begin()") {
    val dir = newDir("ltxn_rollfwd")
    LayoutTxn.commit(spark, dir, LayoutTxn.begin(dir),
      Seq(group(rows(0 -> 1L, 1 -> 2L), Seq(0, 1))))
    // dead writer: staged v2 replacing p=0 and emptying p=1, claimed, crashed
    fabricateClaimedCommit(dir, 2L, rows(0 -> 99L), Seq(0, 1))
    assert(LayoutTxn.currentVersion(dir) === 1L, "claim alone must not advance")
    // graceMs=0: the claim is immediately treated as a dead writer's
    val parent = LayoutTxn.begin(dir, graceMs = 0L)
    assert(parent === 2L, "begin must roll the claimed commit forward")
    assert(readIds(dir) === Seq(0 -> 99L))
    assert(livedParts(dir) === Set("p=0"), "claimed deletion applied to the map")
    assert(!Files.exists(Paths.get(s"$dir/_lstage_v2_fabricated")),
      "the stage must have been renamed to _lv2, not copied")
    assert(Files.isDirectory(Paths.get(s"$dir/_lv2/p=0")))
  }

  test("a crash BETWEEN the _lv rename and the version-file write rolls forward idempotently from the already-renamed dir") {
    val dir = newDir("ltxn_midpublish")
    LayoutTxn.commit(spark, dir, LayoutTxn.begin(dir),
      Seq(group(rows(0 -> 1L), Seq(0))))
    // fabricate the mid-publish state: claim present, stage ALREADY renamed
    // to _lv2 (the atomic move landed), version file still at v1
    val stage = fabricateClaimedCommit(dir, 2L, rows(0 -> 99L), Seq(0))
    Files.move(Paths.get(dir, stage), Paths.get(dir, "_lv2"))
    assert(LayoutTxn.currentVersion(dir) === 1L)
    val parent = LayoutTxn.begin(dir, graceMs = 0L)
    assert(parent === 2L, "roll-forward must complete from the renamed dir")
    assert(readIds(dir) === Seq(0 -> 99L))
  }

  test("a FRESH claim means a live writer mid-publish: begin() conflicts instead of racing its rename") {
    val dir = newDir("ltxn_live")
    LayoutTxn.commit(spark, dir, LayoutTxn.begin(dir),
      Seq(group(rows(0 -> 1L), Seq(0))))
    fabricateClaimedCommit(dir, 2L, rows(0 -> 99L), Seq(0))
    val e = intercept[LayoutTxn.ConflictException] {
      LayoutTxn.begin(dir) // default grace: the fabricated claim is seconds old
    }
    assert(e.getMessage.contains("live writer"))
    // nothing was touched: v1 contents intact
    assert(readIds(dir) === Seq(0 -> 1L))
  }

  test("an orphaned stage (writer died before its claim) is swept once idle past grace") {
    val dir = newDir("ltxn_sweep")
    LayoutTxn.commit(spark, dir, LayoutTxn.begin(dir),
      Seq(group(rows(0 -> 1L), Seq(0))))
    val orphan = Paths.get(dir, "_lstage_v9_orphan")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("part-x.parquet"), "junk")
    // fresh: protected by grace
    LayoutTxn.begin(dir)
    assert(Files.exists(orphan), "a fresh stage may be a live writer's")
    // idle past grace: swept
    LayoutTxn.begin(dir, graceMs = 0L)
    assert(!Files.exists(orphan))
    assert(readIds(dir) === Seq(0 -> 1L))
  }

  test("claimed commit whose staged data is LOST fails loudly and withdraws the claim — the layout heals") {
    val dir = newDir("ltxn_lost")
    LayoutTxn.commit(spark, dir, LayoutTxn.begin(dir),
      Seq(group(rows(0 -> 1L), Seq(0))))
    // claim for v2 moving p=1 in — then the stage vanishes (swept under a
    // stalled writer): source AND destination _lv2 both absent
    val stage = fabricateClaimedCommit(dir, 2L, rows(1 -> 10L), Seq(1))
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
      f.delete(); ()
    }
    deleteRec(new java.io.File(dir, stage))
    val e = intercept[LayoutTxn.LostLayoutCommitException] {
      LayoutTxn.begin(dir, graceMs = 0L)
    }
    assert(e.getMessage.contains("unrecoverable"))
    assert(!Files.exists(Paths.get(dir, "_layout_commit_v2")),
      "the claim must be withdrawn so the next writer re-claims cleanly")
    // NO torn state is even possible: the destination _lv2 is version-
    // unique, so unlike r11's per-partition swap there is no stale
    // destination to mistake for 'already moved' — v1 reads intact
    assert(readIds(dir) === Seq(0 -> 1L))
    // healed: the next begin() sees a clean v1 and a new commit lands as v2
    val parent = LayoutTxn.begin(dir, graceMs = 0L)
    assert(parent === 1L)
    LayoutTxn.commit(spark, dir, parent, Seq(group(rows(1 -> 10L), Seq(1))))
    assert(LayoutTxn.currentVersion(dir) === 2L)
    assert(readIds(dir) === Seq(0 -> 1L, 1 -> 10L))
  }

  test("superseded version dirs are reclaimed in TWO phases: tombstone first, delete only once the tombstone is idle past grace") {
    val dir = newDir("ltxn_reclaim")
    LayoutTxn.commit(spark, dir, LayoutTxn.begin(dir),
      Seq(group(rows(0 -> 1L, 1 -> 2L), Seq(0, 1))))      // v1: p=0, p=1
    LayoutTxn.commit(spark, dir, LayoutTxn.begin(dir),
      Seq(group(rows(0 -> 9L), Seq(0))))                  // v2: repoint p=0
    // _lv1 still holds the live p=1 → referenced, NEVER swept
    LayoutTxn.begin(dir, graceMs = 0L)
    LayoutTxn.begin(dir, graceMs = 0L)
    assert(Files.isDirectory(Paths.get(s"$dir/_lv1/p=1")),
      "a version dir with any referenced partition must survive every sweep")
    // v3 repoints p=1 too → _lv1 fully unreferenced
    LayoutTxn.commit(spark, dir, LayoutTxn.begin(dir),
      Seq(group(rows(1 -> 20L), Seq(1))))
    // phase 1 (generous grace): tombstone planted, dir NOT deleted — a
    // reader that resolved just before keeps its snapshot on disk
    LayoutTxn.begin(dir, graceMs = 3600000L)
    assert(Files.exists(Paths.get(s"$dir/_lv1/_superseded")), "tombstone planted")
    assert(Files.isDirectory(Paths.get(s"$dir/_lv1")),
      "within grace the superseded dir must survive")
    // phase 2 (tombstone idle past grace): deleted
    LayoutTxn.begin(dir, graceMs = 0L)
    assert(!Files.exists(Paths.get(s"$dir/_lv1")))
    assert(readIds(dir) === Seq(0 -> 9L, 1 -> 20L))
  }

  test("an emptied version-0 ROOT partition of a mapped sub is reclaimed the same two-phase way") {
    val dir = newDir("ltxn_rootreclaim")
    DataLayout.writePartitionedSorted(rows(0 -> 1L, 1 -> 2L), dir, Seq("p"), Seq("id"))
    // v1 empties p=1 (empty replacement): the root dir leaves the map but
    // stays on disk
    LayoutTxn.commit(spark, dir, LayoutTxn.begin(dir),
      Seq(group(rows(0 -> 1L).filter(col("p") === 99), Seq(1))))
    assert(livedParts(dir) === Set("p=0"))
    assert(Files.isDirectory(Paths.get(s"$dir/p=1")), "immutable until swept")
    LayoutTxn.begin(dir, graceMs = 3600000L) // phase 1: tombstone
    assert(Files.isDirectory(Paths.get(s"$dir/p=1")))
    LayoutTxn.begin(dir, graceMs = 0L)       // phase 2: delete
    assert(!Files.exists(Paths.get(s"$dir/p=1")))
    assert(readIds(dir) === Seq(0 -> 1L))
  }

  test("a pre-partcol claim (no group.i.partcol) rolls forward WITHOUT dropping untouched root partitions — the column derives from the touched names") {
    val dir = newDir("ltxn_oldclaim")
    // version-0 root layout with TWO partitions; a legacy claim touching
    // only p=0 must not orphan the untouched root p=1 (the advisory's
    // upgrade-path data-loss scenario: partcol "" listed zero root parts)
    DataLayout.writePartitionedSorted(rows(0 -> 1L, 1 -> 2L), dir, Seq("p"), Seq("id"))
    fabricateClaimedCommit(dir, 1L, rows(0 -> 9L), Seq(0), partcol = None)
    assert(LayoutTxn.begin(dir, graceMs = 0L) === 1L)
    assert(readIds(dir) === Seq(0 -> 9L, 1 -> 2L),
      "untouched root partition must stay mapped after a legacy roll-forward")
    assert(livedParts(dir) === Set("p=0", "p=1"))
  }

  test("TWO-group commit (the index + _docmap shape): both subtrees publish atomically and roll forward together") {
    val dir = newDir("ltxn_2group")
    def docGroup(df: org.apache.spark.sql.DataFrame, parts: Seq[Int]) =
      LayoutTxn.Group("_docmap", df, "p", Seq("id"), parts.map(i => s"p=$i"))
    def readDoc(dir: String): Seq[(Int, Long)] =
      LayoutTxn.readLayout(spark, dir, "_docmap", "p")
        .select(col("p").cast("int"), col("id"))
        .as[(Int, Long)].collect().toSeq.sorted
    // v1: postings p=0, docmap p=0
    LayoutTxn.commit(spark, dir, LayoutTxn.begin(dir), Seq(
      group(rows(0 -> 1L), Seq(0)),
      docGroup(rows(0 -> 100L), Seq(0))))
    assert(readIds(dir) === Seq(0 -> 1L))
    assert(readDoc(dir) === Seq(0 -> 100L))
    // fabricate a CLAIMED 2-group v2 (replace postings p=0, empty docmap
    // p=0, add docmap p=1) crashed before its publish
    val stage = "_lstage_v2_fab2"
    DataLayout.writePartitionedSorted(rows(0 -> 9L),
      s"$dir/$stage", Seq("p"), Seq("id"))
    DataLayout.writePartitionedSorted(rows(1 -> 101L),
      s"$dir/$stage/_docmap", Seq("p"), Seq("id"))
    val pr = new java.util.Properties()
    pr.setProperty("version", "2")
    pr.setProperty("stage", stage)
    pr.setProperty("ts", System.currentTimeMillis().toString)
    pr.setProperty("groups", "2")
    pr.setProperty("group.0.sub", "")
    pr.setProperty("group.0.partcol", "p")
    pr.setProperty("group.0.moves", "p=0")
    pr.setProperty("group.0.dels", "")
    pr.setProperty("group.1.sub", "_docmap")
    pr.setProperty("group.1.partcol", "p")
    pr.setProperty("group.1.moves", "p=1")
    pr.setProperty("group.1.dels", "p=0")
    val out = java.nio.file.Files.newOutputStream(
      Paths.get(dir, "_layout_commit_v2"))
    try pr.store(out, "fabricated 2-group claim") finally out.close()
    // roll forward: BOTH subtrees land from the one claim
    assert(LayoutTxn.begin(dir, graceMs = 0L) === 2L)
    assert(readIds(dir) === Seq(0 -> 9L))
    assert(readDoc(dir) === Seq(1 -> 101L),
      "the docmap deletion and insertion ride the same commit")
    assert(!Files.exists(Paths.get(s"$dir/$stage")))
  }

  test("a commit declaring partitions outside its touched set is rejected before any claim") {
    val dir = newDir("ltxn_declared")
    val parent = LayoutTxn.begin(dir)
    val e = intercept[IllegalArgumentException] {
      LayoutTxn.commit(spark, dir, parent,
        Seq(group(rows(0 -> 1L, 5 -> 2L), Seq(0)))) // writes p=5, declares only p=0
    }
    assert(e.getMessage.contains("outside its declared"))
    // nothing published: no version, no claim; stage residue is swept by
    // the next begin() after grace like any pre-claim death
    assert(LayoutTxn.currentVersion(dir) === 0L)
    assert(!Files.exists(Paths.get(dir, "_layout_commit_v1")))
  }

  /** Every committed sub of `dir` reads the same with its recorded schema
    * as with inference: field names, types and order (the partition
    * column's inferred type included) and rows. A sub with no live
    * partition reads with the schema it had before it was emptied
    * (`before`). Returns each sub's schema for the next step. */
  private def assertSchemaParity(dir: String, step: String,
                                 before: Map[String, StructType])
      : Map[String, StructType] = {
    val snap = LayoutTxn.snapshot(dir)
    def rowsOf(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    if (snap.maps.isEmpty) assert(snap.schemas.isEmpty) // version 0 infers
    before ++ snap.maps.toSeq.map { case (sub, (pc, _)) =>
      assert(snap.schemas.contains(sub), s"$step: '$sub' records no schema")
      val read = LayoutTxn.readSnapshot(spark, snap, sub, pc)
      if (LayoutTxn.resolveSnapshot(snap, sub, pc).isEmpty)
        assert(read.schema === before(sub),
          s"$step: emptied '$sub' reads with another schema")
      else {
        val inferred = LayoutTxn.readSnapshot(spark,
          snap.copy(schemas = Map.empty), sub, pc)
        assert(read.schema === inferred.schema, s"$step: '$sub'")
        assert(rowsOf(read) === rowsOf(inferred), s"$step: '$sub' rows")
      }
      sub -> read.schema
    }
  }

  /** The subs of `dir` whose partitions are all gone. */
  private def emptiedSubs(dir: String): Set[String] = {
    val snap = LayoutTxn.snapshot(dir)
    snap.maps.collect { case (sub, (_, m)) if m.isEmpty => sub }.toSet
  }

  test("recorded-schema reads equal inferred reads on the text index: build, upsert, delete, rescale, compact, emptied tombstones and postings") {
    import graft.text.TextAnalysis
    val dir = newDir("ltxn_parity_text")
    val docs = Seq((1L, "spark rows spark spark table"), (2L, "spark rows"),
      (3L, "disk only here"), (4L, "rare word appears once spark"),
      (5L, "")).toDF("doc_id", "text")
    TextAnalysis.writeIndexLayout(docs, "doc_id", col("text"), dir, 4)
    var seen = assertSchemaParity(dir, "build", Map.empty)
    TextAnalysis.indexUpsertLayout(spark, dir, Seq((2L, "rows of disk"),
      (6L, "new spark words")).toDF("doc_id", "text"), "doc_id", col("text"))
    seen = assertSchemaParity(dir, "upsert", seen)
    TextAnalysis.indexDeleteLayout(spark, dir, Seq(3L, 5L).toDF("doc_id"),
      "doc_id")
    seen = assertSchemaParity(dir, "delete", seen)
    TextAnalysis.indexRescaleLayout(spark, dir, 3)
    assert(emptiedSubs(dir) === Set("_tomb"))
    seen = assertSchemaParity(dir, "rescale", seen)
    TextAnalysis.indexDeleteLayout(spark, dir, Seq(1L).toDF("doc_id"), "doc_id")
    seen = assertSchemaParity(dir, "second delete", seen)
    TextAnalysis.indexCompactLayout(spark, dir, maxOwners = 1, txnGraceMs = 0L)
    assert(emptiedSubs(dir) === Set("_tomb"))
    seen = assertSchemaParity(dir, "compact", seen)
    // emptying the postings through an upsert: its replacement's tb is
    // bigint (termBucket), the dir names' inferred type is int
    TextAnalysis.indexUpsertLayout(spark, dir, Seq((2L, ""), (4L, ""),
      (6L, "")).toDF("doc_id", "text"), "doc_id", col("text"))
    assert(emptiedSubs(dir) === Set("", "_tomb"))
    assertSchemaParity(dir, "upsert to empty", seen)
  }

  test("recorded-schema reads equal inferred reads on an INT-id LSH index, through an emptying delete; a narrower batch keeps the wider type") {
    import graft.dedup.Dedup
    val dir = newDir("ltxn_parity_lsh")
    val docs = Seq(1 -> "alpha beta gamma delta epsilon zeta eta theta",
      2 -> "alpha beta gamma delta epsilon zeta eta iota",
      3 -> "one two three four five six seven eight nine")
      .toDF("doc_id", "text") // IntegerType ids
    Dedup.writeLshIndex(docs, "doc_id", col("text"), dir, partitions = 4)
    var seen = assertSchemaParity(dir, "build", Map.empty)
    Dedup.lshIndexUpsert(spark, dir, Seq(4 -> "one two three four five six seven eight ten")
      .toDF("doc_id", "text"), "doc_id", col("text"))
    seen = assertSchemaParity(dir, "upsert", seen)
    assert(seen("").apply("doc_id").dataType === IntegerType)
    Dedup.lshIndexDelete(spark, dir, Seq(2).toDF("doc_id"), "doc_id")
    seen = assertSchemaParity(dir, "delete", seen)
    Dedup.lshIndexRescale(spark, dir, "doc_id", 3)
    seen = assertSchemaParity(dir, "rescale", seen)
    Dedup.lshIndexUpsert(spark, dir, Seq(5 -> "alpha beta gamma delta epsilon zeta eta nu")
      .toDF("doc_id", "text"), "doc_id", col("text"))
    Dedup.lshIndexCompact(spark, dir, "doc_id", maxOwners = 1, txnGraceMs = 0L)
    seen = assertSchemaParity(dir, "compact", seen)
    assert(seen("").apply("doc_id").dataType === IntegerType)
    Dedup.lshIndexDelete(spark, dir, Seq(1, 3, 4, 5).toDF("doc_id"), "doc_id")
    assert(emptiedSubs(dir) === Set("", "_docmap"))
    assertSchemaParity(dir, "delete all", seen)

    // an INT batch appended to a LONG index: the union of the owners'
    // scans widens doc_id to long, and so must the recorded schema (an
    // int user schema cannot read the long files)
    val wide = newDir("ltxn_parity_lsh_wide")
    Dedup.writeLshIndex(docs.withColumn("doc_id", col("doc_id").cast("long")),
      "doc_id", col("text"), wide, partitions = 4)
    Dedup.lshIndexUpsert(spark, wide, Seq(7 -> "alpha beta gamma delta epsilon zeta eta mu")
      .toDF("doc_id", "text"), "doc_id", col("text"))
    val w = assertSchemaParity(wide, "int batch", Map.empty)
    assert(w("").apply("doc_id").dataType === LongType)
  }

  test("recorded-schema reads equal inferred reads on the IVF layout: upsert, delete, recluster, compact, emptying delete") {
    import graft.sim.Similarity
    val dir = newDir("ltxn_parity_ivf")
    val cents: Array[Seq[Float]] = Array(Seq(1f, 0f, 0f, 0f),
      Seq(0f, 1f, 0f, 0f), Seq(0f, 0f, 1f, 0f), Seq(0f, 0f, 0f, 1f))
    def vecs(rows: (Long, Seq[Float])*) =
      rows.toDF("vec_id", "embedding").withColumn("label", lit("x"))
    Similarity.writeIvfLayout(vecs(1L -> Seq(0.9f, 0.1f, 0f, 0f),
      2L -> Seq(0.1f, 0.9f, 0f, 0f), 3L -> Seq(0f, 0f, 1f, 0.2f),
      4L -> Seq(0f, 0f, 0.1f, 0.9f)), cents, dir)
    def parity(step: String, seen: Map[String, StructType]) = {
      val out = assertSchemaParity(dir, step, seen)
      out.get("").foreach(s => assert(s("cell").dataType === IntegerType, step))
      out
    }
    var seen = parity("build", Map.empty)
    Similarity.ivfUpsertLayout(spark, dir, cents, vecs(
      1L -> Seq(0f, 0f, 0.95f, 0.1f), 5L -> Seq(0.2f, 0.8f, 0f, 0f)))
    seen = parity("upsert", seen)
    Similarity.ivfDeleteLayout(spark, dir, Seq(2L).toDF("vec_id"))
    seen = parity("delete", seen)
    assert(Similarity.reclusterCells(spark, dir, cells = 2, skewThreshold = 0.0,
      iters = 2, dims = 4).nonEmpty)
    seen = parity("recluster", seen)
    Similarity.ivfDeleteLayout(spark, dir, Seq(3L).toDF("vec_id"))
    LayoutTxn.compactStale(spark, dir, maxOwners = 1, txnGraceMs = 0L)
    seen = parity("compact", seen)
    Similarity.ivfDeleteLayout(spark, dir, Seq(1L, 4L, 5L).toDF("vec_id"))
    assert(emptiedSubs(dir) === Set(""))
    parity("delete all", seen)
  }
}
