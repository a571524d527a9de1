package graft.text

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.Tables

/** The inverted-index-at-rest layout (the IVF-layout precedent applied to
  * text search): index hive-partitioned by md5 term bucket, searches
  * pruned to the query terms' bucket directories. */
class IndexLayoutSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sfDir)
  private lazy val index =
    TextAnalysis.invertedIndex(docs, "doc_id", col("text"))
  private lazy val layoutDir = {
    val d = Files.createTempDirectory("idx_layout").toString + "/idx"
    TextAnalysis.writeIndexLayout(index, d, buckets = 16)
    d
  }

  private def findScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
    p match {
      case a: AdaptiveSparkPlanExec => findScans(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => findScans(s.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => findScans(r.child)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(findScans)
    }

  test("layout write is lossless: every (term, df) row survives partitioning") {
    val back = spark.read.parquet(layoutDir)
    assert(back.count() === index.count())
    // JVM-side bucket derivation matches the Spark column used at write
    val sample = back.select("term", "tb").as[(String, Long)].take(50)
    sample.foreach { case (term, tb) =>
      assert(TextAnalysis.termBucketJvm(term, 16) === tb, s"bucket mismatch for $term")
    }
  }

  test("pruned search reads ONLY the query terms' bucket directories") {
    val terms = Seq("scan", "batch")
    val out = TextAnalysis.searchIndexLayout(spark, layoutDir, terms, buckets = 16)
    assert(out.collect().nonEmpty)
    val scans = findScans(out.queryExecution.executedPlan)
    val scan = scans.find(_.metadata.get("Location").exists(_.contains("idx_layout")))
      .getOrElse(fail(s"no layout scan among ${scans.map(_.metadata.get("Location"))}"))
    // r15: readLayout prunes the DIRECTORY LIST driver-side before Spark
    // ever lists a file — stronger than a PartitionFilter (no non-matching
    // dir is even enumerated). The observable: every input file of the
    // layout scan sits under one of the query terms' tb= dirs.
    val expected = terms.map(TextAnalysis.termBucketJvm(_, 16)).distinct.toSet
    val readBuckets = scan.relation.location.inputFiles.toSeq
      .flatMap(_.split("/").find(_.startsWith("tb=")))
      .map(_.stripPrefix("tb=").toLong).toSet
    assert(readBuckets.nonEmpty && readBuckets.subsetOf(expected),
      s"scan read buckets $readBuckets outside the query's $expected")
    val allBuckets = new java.io.File(layoutDir).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("tb="))
    assert(expected.size < allBuckets, "fixture degenerate: nothing to prune")
  }

  test("indexUpsertLayout: maintained layout equals a full rebuild, including removed terms") {
    import org.apache.spark.sql.Row
    val d = Files.createTempDirectory("idx_upsert").toString + "/idx"
    val isDelta = col("doc_id") % 7 === 0
    val stale = docs.withColumn("text",
      when(isDelta, reverse(col("text"))).otherwise(col("text")))
    TextAnalysis.writeIndexLayout(
      TextAnalysis.invertedIndex(stale, "doc_id", col("text")), d)
    TextAnalysis.indexUpsertLayout(spark, d, docs.filter(isDelta),
      "doc_id", col("text"))
    def canon(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Seq[Row])] =
      df.select("term", "df", "postings")
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getSeq[Row](2))).toSet
    // the maintained layout's committed snapshot (touched tb= dirs live in
    // _lv1, which a plain hive read would skip)
    val maintained = canon(
      graft.layout.LayoutTxn.readLayout(spark, d, "", "tb"))
    val rebuilt = canon(TextAnalysis.invertedIndex(docs, "doc_id", col("text")))
    assert(maintained === rebuilt)
    // the stale reversed-word terms must be GONE, not just shadowed
    val reversedWord = stale.filter(isDelta)
      .select(explode(TextAnalysis.words(col("text"))).as("w"))
      .filter(length(col("w")) > 3).head().getString(0)
    assert(!maintained.exists(_._1 == reversedWord) ||
      rebuilt.exists(_._1 == reversedWord))
  }

  test("indexUpsertLayout: a doc replaced with empty text KEEPS a sentinel doc-map row (it is still a corpus member), its postings gone") {
    val d = Files.createTempDirectory("idx_dm_clean").toString + "/idx"
    // buckets=4: doc 5 is the SOLE occupant of dm=1 (5 mod 4; 1 and 9 absent)
    val base = Seq((4L, "alpha beta"), (5L, "gamma delta"), (8L, "alpha epsilon"))
      .toDF("doc_id", "text")
    TextAnalysis.writeIndexLayout(
      TextAnalysis.invertedIndex(base, "doc_id", col("text")), d, buckets = 4)
    assert(new java.io.File(s"$d/_docmap/dm=1").isDirectory)
    // upsert doc 5 to empty text: its postings vanish, but the doc stays
    // a corpus member — the doc store keeps ONE sentinel row (tb=-1,
    // len=0) so BM25's N/avg-length over the at-rest index still equal
    // bm25() over raw text (r17, ADVICE r16 low). Removing a doc from
    // the corpus outright is indexDeleteLayout's job, not an upsert's.
    TextAnalysis.indexUpsertLayout(spark, d,
      Seq((5L, "")).toDF("doc_id", "text"), "doc_id", col("text"), buckets = 4)
    val dmRows = graft.layout.LayoutTxn.readLayout(spark, d, "_docmap", "dm")
      .filter(col("doc_id") === 5L)
      .select(col("tb"), col("len")).as[(Long, Long)].collect().toSeq
    assert(dmRows === Seq((-1L, 0L)), s"sentinel row expected, got $dmRows")
    // and its postings really are gone from every touched bucket
    assert(TextAnalysis.searchIndexLayout(spark, d, Seq("gamma"), buckets = 4)
      .count() === 0)
  }

  test("indexDeleteLayout (merge-on-read, r20): logical read == rebuild without the victims; compact materializes; emptied partitions reclaim; BM25 N shrinks") {
    val d = Files.createTempDirectory("idx_del").toString + "/idx"
    val base = Seq(
      (1L, "spark rows spark spark table"),
      (2L, "spark rows"),
      (3L, "disk only here"),
      (4L, "rare word appears once spark"),
      (5L, "gamma delta unique terms"))  // doc 3 = dm=3's SOLE occupant
      .toDF("doc_id", "text")
    TextAnalysis.writeIndexLayout(base, "doc_id", col("text"), d, buckets = 4)
    assert(new java.io.File(s"$d/_docmap/dm=3").isDirectory)
    TextAnalysis.indexDeleteLayout(spark, d,
      Seq(3L, 5L).toDF("doc_id"), "doc_id", buckets = 4)
    // the delete is O(victims): ONE tombstone run appended, no postings
    // bucket and no doc-store dir rewritten (merge-on-read)
    assert(graft.layout.LayoutTxn.resolve(d, "_tomb", "tr").nonEmpty,
      "delete must append a tombstone run")
    assert(graft.layout.LayoutTxn.readLayout(spark, d, "", "tb")
      .select(explode(col("postings")).as("p")).select(col("p.doc_id"))
      .filter(col("doc_id").isin(3L, 5L)).count() > 0,
      "victims' postings stay PHYSICALLY until materialization")
    // ...but the LOGICAL read — what every search observes — equals a
    // scratch rebuild over the survivors, exact df included
    val d2 = Files.createTempDirectory("idx_del2").toString + "/idx"
    val survivors = base.filter(!col("doc_id").isin(3L, 5L))
    TextAnalysis.writeIndexLayout(survivors, "doc_id", col("text"), d2,
      buckets = 4)
    def postings(dir: String) = TextAnalysis.readIndexPostings(spark, dir)
      .select(col("term"), col("df"), explode(col("postings")).as("p"))
      .select(col("term"), col("df"), col("p.doc_id"), col("p.tf"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(postings(d) === postings(d2))
    def dmRows(dir: String) = TextAnalysis.readIndexDocStore(spark, dir)
      .select(col("doc_id"), col("tb"), col("len"))
      .as[(Long, Long, Long)].collect().toSet
    assert(dmRows(d) === dmRows(d2))
    // BM25 over the maintained index == bm25 over the surviving raw docs
    // (N shrank from 5 to 3 — delete removes corpus membership, unlike
    // the upsert-to-empty sentinel path) — with the tombstones LIVE
    val terms = Seq("spark", "rare")
    val a = TextAnalysis.bm25SearchLayout(spark, d, terms, buckets = 4)
      .as[(Long, Double)].collect().toMap
    val b = TextAnalysis.bm25(survivors, "doc_id", col("text"), terms)
      .as[(Long, Double)].collect().toMap
    assert(a.keySet === b.keySet)
    a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-12, s"doc $k") }
    // compaction MATERIALIZES the tombstones: physical == rebuilt now,
    // the runs are gone, and doc 3 (dm=3's sole occupant) leaves the
    // snapshot so the two-phase sweep reclaims the dir physically
    TextAnalysis.indexCompactLayout(spark, d, maxOwners = 1, txnGraceMs = 0L)
    assert(graft.layout.LayoutTxn.resolve(d, "_tomb", "tr").isEmpty,
      "materialization must clear the tombstone runs")
    def rawPostings(dir: String) = graft.layout.LayoutTxn
      .readLayout(spark, dir, "", "tb")
      .select(col("term"), col("df"), explode(col("postings")).as("p"))
      .select(col("term"), col("df"), col("p.doc_id"), col("p.tf"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(rawPostings(d) === postings(d2),
      "after materialization the PHYSICAL rows equal the rebuild")
    assert(!graft.layout.LayoutTxn.resolve(d, "_docmap", "dm")
      .exists(_._1 == "dm=3"),
      "emptied dm= partition must leave the committed snapshot")
    graft.layout.LayoutTxn.begin(d, graceMs = 0L)
    graft.layout.LayoutTxn.begin(d, graceMs = 0L)
    assert(!new java.io.File(s"$d/_docmap/dm=3").exists(),
      "swept dm= partition must be deleted from disk")
    // and BM25 is unchanged by the materialization
    val a2 = TextAnalysis.bm25SearchLayout(spark, d, terms, buckets = 4)
      .as[(Long, Double)].collect().toMap
    assert(a2.keySet === b.keySet)
    a2.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-12, s"doc $k") }
  }

  test("merge-on-read delete then RE-UPSERT: the doc re-enters without resurrecting stale postings") {
    val d = Files.createTempDirectory("idx_del_re").toString + "/idx"
    val base = Seq(
      (1L, "spark rows spark spark table"),
      (2L, "spark rows unique gamma"),
      (3L, "rare word appears once spark"))
      .toDF("doc_id", "text")
    TextAnalysis.writeIndexLayout(base, "doc_id", col("text"), d, buckets = 4)
    TextAnalysis.indexDeleteLayout(spark, d, Seq(2L).toDF("doc_id"), "doc_id")
    // deleted: invisible everywhere
    assert(TextAnalysis.searchIndexLayout(spark, d, Seq("gamma")).count() === 0)
    // re-upsert the SAME id with DIFFERENT text: its old postings
    // ("gamma", "unique") must not resurrect when the tombstone entry
    // clears — the apply materializes them away in the same commit
    TextAnalysis.indexUpsertLayout(spark, d,
      Seq((2L, "fresh words only")).toDF("doc_id", "text"), "doc_id",
      col("text"))
    assert(TextAnalysis.searchIndexLayout(spark, d, Seq("gamma")).count() === 0,
      "stale postings must not resurrect on re-upsert")
    assert(TextAnalysis.searchIndexLayout(spark, d, Seq("fresh"))
      .as[(Long, Long)].collect().toSeq === Seq((2L, 1L)))
    // whole state == rebuild over the logical corpus
    val want = base.filter(col("doc_id") =!= 2L)
      .unionByName(Seq((2L, "fresh words only")).toDF("doc_id", "text"))
    val terms = Seq("spark", "fresh")
    val a = TextAnalysis.bm25SearchLayout(spark, d, terms)
      .as[(Long, Double)].collect().toMap
    val b = TextAnalysis.bm25(want, "doc_id", col("text"), terms)
      .as[(Long, Double)].collect().toMap
    assert(a.keySet === b.keySet)
    a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-12, s"doc $k") }
    // doc 2 was the only tombstoned id and the apply cleared its entry in
    // the same commit that removed its postings physically — the runs are
    // empty again, so readers are back on the raw untouched plans
    assert(graft.layout.LayoutTxn.resolve(d, "_tomb", "tr").isEmpty,
      "apply must clear its own victims' tombstone entries")
  }

  test("merge-on-read delete then RESCALE: the full rewrite materializes the tombstones") {
    val d = Files.createTempDirectory("idx_del_rs").toString + "/idx"
    val base = Seq(
      (1L, "spark rows spark spark table"),
      (2L, "spark rows"),
      (3L, "rare word appears once spark"),
      (4L, ""))  // term-less sentinel
      .toDF("doc_id", "text")
    TextAnalysis.writeIndexLayout(base, "doc_id", col("text"), d, buckets = 4)
    TextAnalysis.indexDeleteLayout(spark, d,
      Seq(2L, 4L).toDF("doc_id"), "doc_id")
    TextAnalysis.indexRescaleLayout(spark, d, 7)
    assert(graft.layout.LayoutTxn.resolve(d, "_tomb", "tr").isEmpty,
      "rescale must clear the tombstone runs")
    // physical state == rebuild of the survivors at the new count
    val d2 = Files.createTempDirectory("idx_del_rs2").toString + "/idx"
    TextAnalysis.writeIndexLayout(base.filter(!col("doc_id").isin(2L, 4L)),
      "doc_id", col("text"), d2, buckets = 7)
    def raw(dir: String, sub: String, pc: String) = graft.layout.LayoutTxn
      .readLayout(spark, dir, sub, pc)
    assert(raw(d, "", "tb")
        .select(col("term"), col("df"), explode(col("postings")).as("p"),
          col("tb"))
        .select(col("term"), col("df"), col("p.doc_id"), col("p.tf"), col("tb"))
        .as[(String, Long, Long, Long, Long)].collect().toSet ===
      raw(d2, "", "tb")
        .select(col("term"), col("df"), explode(col("postings")).as("p"),
          col("tb"))
        .select(col("term"), col("df"), col("p.doc_id"), col("p.tf"), col("tb"))
        .as[(String, Long, Long, Long, Long)].collect().toSet)
    assert(raw(d, "_docmap", "dm").select(col("doc_id"), col("tb"), col("len"))
        .as[(Long, Long, Option[Long])].collect().toSet ===
      raw(d2, "_docmap", "dm").select(col("doc_id"), col("tb"), col("len"))
        .as[(Long, Long, Option[Long])].collect().toSet)
  }

  test("a layout REBUILT IN PLACE never serves the old layout's memoized tombstones or corpus stats") {
    val d = Files.createTempDirectory("idx_rebuild").toString + "/idx"
    val base = Seq(
      (1L, "spark rows spark spark table"),
      (2L, "spark rows"),
      (3L, "rare word appears once spark"),
      (4L, "spark disk only"))
      .toDF("doc_id", "text")
    val terms = Seq("spark", "rare")
    def search(dir: String) = TextAnalysis.searchIndexLayout(spark, dir,
      Seq("spark")).as[(Long, Long)].collect().toSet
    def ranked(dir: String) = TextAnalysis.bm25SearchLayout(spark, dir, terms)
      .as[(Long, Double)].collect().toMap
    TextAnalysis.writeIndexLayout(base, "doc_id", col("text"), d, buckets = 4)
    TextAnalysis.indexDeleteLayout(spark, d, Seq(2L).toDF("doc_id"), "doc_id")
    // memoize v1's facts: doc 2's tombstone, N = 3
    search(d); ranked(d)
    // the rebuild restarts the version count, so this delete is v1 again
    TextAnalysis.writeIndexLayout(base, "doc_id", col("text"), d, buckets = 4)
    TextAnalysis.indexDeleteLayout(spark, d, Seq(4L).toDF("doc_id"), "doc_id")
    assert(graft.layout.LayoutTxn.currentVersion(d) === 1L)
    val fresh = Files.createTempDirectory("idx_rebuild_fresh").toString + "/idx"
    TextAnalysis.writeIndexLayout(base.filter(col("doc_id") =!= 4L), "doc_id",
      col("text"), fresh, buckets = 4)
    assert(search(d) === search(fresh))
    val (a, b) = (ranked(d), ranked(fresh))
    assert(a.keySet === b.keySet && a.keySet === Set(1L, 2L, 3L))
    a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-12, s"doc $k") }
  }

  test("a mismatched bucket count is REFUSED loudly on every read/maintain route (layout fact, r17)") {
    val d = Files.createTempDirectory("idx_bkts").toString + "/idx"
    val base = Seq((1L, "alpha beta"), (2L, "gamma delta"))
      .toDF("doc_id", "text")
    TextAnalysis.writeIndexLayout(base, "doc_id", col("text"), d, buckets = 4)
    // pre-fix these would silently search the wrong tb= dirs (empty
    // results) or miss delete victims — now they fail at the door
    val e1 = intercept[IllegalArgumentException] {
      TextAnalysis.searchIndexLayout(spark, d, Seq("alpha"), buckets = 8)
    }
    assert(e1.getMessage.contains("buckets=4"))
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25SearchLayout(spark, d, Seq("alpha"), buckets = 16)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.indexUpsertLayout(spark, d,
        Seq((3L, "new words")).toDF("doc_id", "text"), "doc_id",
        col("text"), buckets = 8)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.indexDeleteLayout(spark, d,
        Seq(1L).toDF("doc_id"), "doc_id", buckets = 8)
    }
    // the matching value still works
    assert(TextAnalysis.searchIndexLayout(spark, d, Seq("alpha"),
      buckets = 4).count() === 1)
  }

  test("a live concurrent committer makes indexUpsertLayout CONFLICT loudly — postings AND doc map untouched") {
    val d = Files.createTempDirectory("idx_conflict").toString + "/idx"
    val base = Seq((4L, "alpha beta"), (5L, "gamma delta"))
      .toDF("doc_id", "text")
    TextAnalysis.writeIndexLayout(
      TextAnalysis.invertedIndex(base, "doc_id", col("text")), d, buckets = 4)
    // another writer's FRESH claim for the next layout version
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(d, "_layout_commit_v1"), "version=1\n")
    def snap(path: String): Set[(String, Long)] =
      graft.layout.LayoutTxn.readLayout(spark, path, "", "tb")
        .select("term", "df").as[(String, Long)].collect().toSet
    def dmSnap(path: String): Set[(Long, Long)] =
      graft.layout.LayoutTxn.readLayout(spark, path, "_docmap", "dm")
        .select("doc_id", "tb").as[(Long, Long)].collect().toSet
    val before = snap(d)
    val dmBefore = dmSnap(d)
    intercept[graft.layout.LayoutTxn.ConflictException] {
      TextAnalysis.indexUpsertLayout(spark, d,
        Seq((9L, "epsilon zeta")).toDF("doc_id", "text"),
        "doc_id", col("text"), buckets = 4)
    }
    assert(snap(d) === before, "conflicted upsert must not touch postings")
    assert(dmSnap(d) === dmBefore,
      "conflicted upsert must not touch the doc map")
    assert(!new java.io.File(d).listFiles()
      .exists(_.getName.startsWith("_lstage_")), "no stage residue")
    // withdraw the fabricated claim: the upsert then lands cleanly as v1
    java.nio.file.Files.delete(java.nio.file.Paths.get(d, "_layout_commit_v1"))
    TextAnalysis.indexUpsertLayout(spark, d,
      Seq((9L, "epsilon zeta")).toDF("doc_id", "text"),
      "doc_id", col("text"), buckets = 4)
    assert(graft.layout.LayoutTxn.currentVersion(d) === 1L)
    assert(snap(d).map(_._1).contains("epsilon"))
  }

  test("layout search is semantically identical to searching the fresh index") {
    val terms = Seq("scan", "batch")
    val viaLayout = TextAnalysis.searchIndexLayout(spark, layoutDir, terms)
      .as[(Long, Long)].collect().toSet
    val fresh = TextAnalysis.searchAll(index, terms)
      .as[(Long, Long)].collect().toSet
    assert(viaLayout === fresh && fresh.nonEmpty)
  }

  test("bm25SearchLayout equals bm25 over the corpus — before AND after maintenance") {
    val d = java.nio.file.Files.createTempDirectory("idx_bm25").toString + "/idx"
    val base = Seq(
      (1L, "spark rows spark spark table"),
      (2L, "spark rows"),
      (3L, "disk only here"),
      (4L, "rare word appears once spark"))
      .toDF("doc_id", "text")
    TextAnalysis.writeIndexLayout(
      TextAnalysis.invertedIndex(base, "doc_id", col("text")), d, buckets = 4)
    val terms = Seq("spark", "rare")
    def viaLayout: Map[Long, Double] =
      TextAnalysis.bm25SearchLayout(spark, d, terms, buckets = 4)
        .as[(Long, Double)].collect().toMap
    def direct(corpus: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      TextAnalysis.bm25(corpus, "doc_id", col("text"), terms)
        .as[(Long, Double)].collect().toMap
    val a = viaLayout
    val b = direct(base)
    assert(a.keySet === b.keySet && a.keySet === Set(1L, 2L, 4L))
    a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-12, s"doc $k") }
    // REPLACE doc 2 with a longer text (length, tf, and df all move) —
    // the maintained index must keep scoring exactly like a fresh corpus
    val repl = Seq((2L, "spark spark rare rare rare words words words"))
      .toDF("doc_id", "text")
    TextAnalysis.indexUpsertLayout(spark, d, repl, "doc_id", col("text"),
      buckets = 4)
    val after = viaLayout
    val want = direct(base.filter(col("doc_id") =!= 2L).unionByName(repl))
    assert(after.keySet === want.keySet)
    after.foreach { case (k, v) =>
      assert(math.abs(v - want(k)) < 1e-12, s"doc $k after upsert") }
  }

  test("empty documents count toward BM25's N/avg-length (docs-form layout + maintenance)") {
    val d = java.nio.file.Files.createTempDirectory("idx_bm25e").toString + "/idx"
    // docs 5 and 6 are term-less: invisible to the postings, but bm25()
    // over raw text counts them in N and in the avg length — the at-rest
    // index must agree (ADVICE r16 low: pre-r17 the doc store only held
    // indexed docs, shifting every idf and length normalization)
    val base = Seq(
      (1L, "spark rows spark spark table"),
      (2L, "spark rows"),
      (3L, "disk only here"),
      (4L, "rare word appears once spark"),
      (5L, ""),
      (6L, "   "))
      .toDF("doc_id", "text")
    TextAnalysis.writeIndexLayout(base, "doc_id", col("text"), d, buckets = 4)
    val terms = Seq("spark", "rare")
    def viaLayout: Map[Long, Double] =
      TextAnalysis.bm25SearchLayout(spark, d, terms, buckets = 4)
        .as[(Long, Double)].collect().toMap
    def direct(corpus: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      TextAnalysis.bm25(corpus, "doc_id", col("text"), terms)
        .as[(Long, Double)].collect().toMap
    val a = viaLayout
    val b = direct(base)
    assert(a.keySet === b.keySet && a.keySet === Set(1L, 2L, 4L))
    a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-12, s"doc $k") }
    // REPLACING a doc with empty text must keep it in the corpus (N
    // constant), remove its postings, and still match raw-text bm25
    val repl = Seq((2L, "")).toDF("doc_id", "text")
    TextAnalysis.indexUpsertLayout(spark, d, repl, "doc_id", col("text"),
      buckets = 4)
    val after = viaLayout
    val want = direct(base.filter(col("doc_id") =!= 2L).unionByName(repl))
    assert(after.keySet === want.keySet && after.keySet === Set(1L, 4L))
    after.foreach { case (k, v) =>
      assert(math.abs(v - want(k)) < 1e-12, s"doc $k after empty-replace") }
    // and the reverse: an empty doc gaining text joins the postings
    val grow = Seq((5L, "spark appears")).toDF("doc_id", "text")
    TextAnalysis.indexUpsertLayout(spark, d, grow, "doc_id", col("text"),
      buckets = 4)
    val corpus2 = base.filter(!col("doc_id").isin(2L, 5L))
      .unionByName(repl).unionByName(grow)
    val after2 = viaLayout
    val want2 = direct(corpus2)
    assert(after2.keySet === want2.keySet && after2.keySet.contains(5L))
    after2.foreach { case (k, v) =>
      assert(math.abs(v - want2(k)) < 1e-12, s"doc $k after grow") }
  }

  test("NULL-text documents keep the layout ≡ raw bm25 contract (ADVICE r17 low)") {
    val d = java.nio.file.Files.createTempDirectory("idx_bm25n").toString + "/idx"
    // size(words(NULL)) is NULL, not 0: pre-fix the null-text doc got
    // neither postings nor a sentinel and dropped from the doc store,
    // shrinking bm25SearchLayout's N below bm25()'s (which counts every
    // row). Contract: NULL text counts toward N on both sides but is
    // excluded from avg-len on both (bm25's avg skips the null __len).
    val base = Seq(
      (1L, "spark rows spark spark table"),
      (2L, "spark rows"),
      (3L, "rare word appears once spark"),
      (4L, null.asInstanceOf[String]),
      (5L, ""))
      .toDF("doc_id", "text")
    TextAnalysis.writeIndexLayout(base, "doc_id", col("text"), d, buckets = 4)
    val terms = Seq("spark", "rare")
    val a = TextAnalysis.bm25SearchLayout(spark, d, terms, buckets = 4)
      .as[(Long, Double)].collect().toMap
    val b = TextAnalysis.bm25(base, "doc_id", col("text"), terms)
      .as[(Long, Double)].collect().toMap
    assert(a.keySet === b.keySet && a.keySet === Set(1L, 2L, 3L))
    a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-12, s"doc $k") }
    // the null-text doc holds a doc-store row (corpus membership: N) with
    // a NULL length (avg-len exclusion)
    val store = graft.layout.LayoutTxn.readLayout(spark, d, "_docmap", "dm")
      .select(col("doc_id"), col("len")).distinct()
    assert(store.filter(col("doc_id") === 4L).count() === 1L)
    assert(store.filter(col("doc_id") === 4L && col("len").isNull)
      .count() === 1L)
    assert(store.filter(col("doc_id") === 5L && col("len") === 0L)
      .count() === 1L)
  }
}
