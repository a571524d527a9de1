package loadbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.dedup.Dedup
import graft.layout.{LayoutTxn, MergeTable}
import graft.sources.HubEtl
import graft.text.TextAnalysis
import graft.util.Cleanup

/** One workload: untimed set-up, then cycles of closed-loop operations
  * (one client: each operation starts when the previous one ends), then
  * untimed end-of-run checks. */
trait Workload {
  /** Build inputs and engine state; ends right before the first timed op. */
  def setup(): Unit
  /** Run cycle `c`; `traced(i)` says whether its i-th operation is traced. */
  def cycle(c: Int, traced: Int => Boolean): Unit
  /** Untimed checks after the timed phase; run-level facts for the record. */
  def finish(): Map[String, Double]
}

object Workloads {
  /** Every regular file under `dir` with its size. */
  def filesUnder(dir: String): Map[String, Long] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f.toString -> Files.size(f)).toMap
    finally s.close()
  }

  def dirBytes(dir: String): Long = filesUnder(dir).values.sum

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
  }

  def apply(name: String, spark: SparkSession, rec: Recorder, root: String,
            seed: Long, conf: Map[String, String]): Workload = name match {
    case "hub_sync" => new HubSync(spark, rec, root, seed)
    case "star_analytics" => new StarAnalytics(spark, rec, seed, conf("fixture"),
      conf("digests"), conf.contains("record"))
    case "corpus_index" => new CorpusIndex(spark, rec, root, seed, conf("fixture"))
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

// ---------------------------------------------------------------------------

/** The paper's job: pretalx schedule + paginated Hub events → op-flagged
  * merge plan → commit into a Hub table keyed on talk code → key lookup. */
final class HubSync(spark: SparkSession, rec: Recorder, root: String,
                    seed: Long) extends Workload {
  private val fest = new Gen.Festival(seed, Sizes.Talks, Sizes.Speakers)
  private val table = s"$root/state/hub_table"
  private var round = 0

  /** Inputs of one round and the generator's ground truth for it. */
  private final case class Round(sched: String, pages: String, fresh: Seq[String],
                                 edited: Seq[String], cancelled: Seq[String],
                                 prior: Int, titles: Map[String, String])

  private def nextRound(first: Boolean): Round = {
    val hub = if (first) Nil else fest.hubPages(Sizes.PageSize)
    val prior = if (first) 0 else fest.talks.length
    val (fresh, edited, cancelled) =
      if (first) (fest.talks.map(_.code), Nil, Nil) else fest.advance()
    val (sched, pages) = Gen.writeRound(s"$root/inputs/round-$round",
      fest.scheduleJson, hub, new Gen.Digest)
    round += 1
    Round(sched, pages, fresh, edited, cancelled, prior,
      fest.talks.iterator.map(t => t.code -> Option(t.title).getOrElse("")).toMap)
  }

  private def changes(plan: DataFrame): DataFrame =
    plan.select(
      coalesce(col("code"), expr("substring(hub_id, 4)")).as("code"),
      col("name"), col("room_name"), col("abstract"), col("description_en"),
      col("schedule_start"), col("duration"), col("op_flag"))

  def setup(): Unit = {
    // initial full load: every talk is a create against an empty Hub
    val r = nextRound(first = true)
    rec.mark("generated")
    MergeTable.merge(spark, table, changes(HubEtl.run(spark, r.sched, r.pages)),
      "code", numBuckets = 16)
    Cleanup.drain()
    rec.mark("loaded")
    // untimed rounds, so the timed ones start with a warmer JIT
    (0 until Sizes.WarmRounds).foreach { _ =>
      sync(nextRound(first = false))
      dropInputs()
    }
  }

  def cycle(c: Int, traced: Int => Boolean): Unit =
    (0 until Sizes.RoundsPerCycle).foreach(i => timedRound(c, traced(i)))

  private def timedRound(c: Int, traced: Boolean): Unit = {
    val r = rec.untimed(nextRound(first = false))
    val before = if (traced) rec.untimed(Workloads.filesUnder(table)) else Map.empty[String, Long]
    var out: Option[(Map[String, Long], Map[String, String])] = None
    rec.op(c, "round", "write", traced) { out = Some(sync(r)); true }
    rec.check("op-flag counts, looked-up titles or row count") {
      out.exists { case (counts, got) => correct(r, counts, got) }
    }
    if (traced) rec.untimed {
      val after = Workloads.filesUnder(table)
      rec.annotateLast("bytes_written",
        after.iterator.filter { case (f, _) => !before.contains(f) }.map(_._2).sum.toDouble)
      rec.annotateLast("rows_changed", (r.fresh.size + r.edited.size + r.cancelled.size).toDouble)
    }
    rec.untimed(dropInputs())
  }

  /** One sync round: extract + diff, commit, look up the changed codes.
    * Returns the op-flag counts and the looked-up code → title. */
  private def sync(r: Round): (Map[String, Long], Map[String, String]) = {
    val plan = rec.span("sources.extract") { HubEtl.run(spark, r.sched, r.pages) }
    val (flagged, counts) = rec.span("ops.diff") {
      val cp = Cleanup.checkpoint(plan)
      (cp, cp.groupBy("op_flag").count().collect()
        .map(x => x.getString(0) -> x.getLong(1)).toMap)
    }
    rec.span("layout.commit") {
      MergeTable.merge(spark, table, changes(flagged), "code")
    }
    val got = rec.span("layout.lookup") {
      import spark.implicits._
      val keys = (r.fresh ++ r.edited ++ r.cancelled).toDF("code")
      MergeTable.readForKeys(spark, table, keys).join(keys, "code")
        .select("code", "name").collect().map(x => x.getString(0) -> x.getString(1))
        .toMap
    }
    rec.span("cleanup.drain") { Cleanup.drain() }
    (counts, got)
  }

  private def correct(r: Round, counts: Map[String, Long],
                      got: Map[String, String]): Boolean = {
    val expected = Map("create" -> r.fresh.size.toLong,
      "update" -> (r.prior - r.cancelled.size).toLong, "delete" -> r.cancelled.size.toLong)
    counts == expected &&
      (r.fresh ++ r.edited).forall(k => got.get(k).contains(r.titles(k))) &&
      r.cancelled.forall(k => !got.contains(k)) &&
      MergeTable.countRows(table).contains(r.titles.size.toLong)
  }

  /** Only the next round's inputs stay on disk. */
  private def dropInputs(): Unit = Workloads.deleteTree(s"$root/inputs/round-${round - 1}")

  def finish(): Map[String, Double] = {
    // space amplification: the table against a fresh write of its live rows
    val live = MergeTable.read(spark, table)
    val fresh = s"$root/state/hub_fresh"
    MergeTable.merge(spark, fresh, live.withColumn("op_flag", lit("create")),
      "code", numBuckets = 16)
    val freshBytes = Workloads.dirBytes(fresh).toDouble
    Map("space_amp" -> Workloads.dirBytes(table) / freshBytes,
      "fresh_bytes_per_row" -> freshBytes / fest.talks.length,
      "rounds" -> round.toDouble)
  }
}

// ---------------------------------------------------------------------------

object StarAnalytics {
  /** 24 of the engine's relational and TPC-H-shaped queries: operators
    * (q01–q12), star and salted joins (q47, q55), at-rest layouts (q73
    * dynamic pruning, q74 bucketed join) and TPC-H-shaped SQL (q97
    * onwards). Left out, to fit the run time: the single-function
    * projections q07, q11 and q13–q18, and q04, which is empty on the
    * fixture. */
  val queries: Seq[String] = Seq("q01_filter_project", "q02_lookup_join",
    "q03_merge_diff", "q05_semi_join", "q06_agg_pricing", "q08_rollup",
    "q09_window_rank", "q10_window_rolling", "q12_set_ops", "q47_star_join",
    "q55_salted_join", "q73_dynamic_prune", "q74_bucketed_join", "q97_sql_q1",
    "q108_sql_q3", "q117_exists_sql", "q142_sql_q2", "q143_sql_q17",
    "q146_sql_q21", "q150_sql_q13", "q153_sql_q18", "q154_sql_q22",
    "q159_sql_q15", "q160_sql_q11")

  /** The query order of one pass, drawn from the workload's seeded random. */
  def order(rnd: java.util.Random): Seq[String] =
    scala.util.Random.javaRandomToRandom(rnd).shuffle(queries)
}

/** Read-only queries over the fixture's star tables. */
final class StarAnalytics(spark: SparkSession, rec: Recorder, seed: Long,
                          dir: String, digestFile: String,
                          record: Boolean) extends Workload {
  private val rnd = new java.util.Random(seed)
  private val reference: Map[String, String] = DigestFile.read(digestFile)
  private val digests = scala.collection.mutable.LinkedHashMap.empty[String, String]

  /** Order-independent digest of a query's full result, computed by the
    * action that executes the plan: xxhash64 of every row's UnsafeRow
    * bytes, summed, plus the row count. */
  private def digest(df: DataFrame): String = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(schema)
      var sum = 0L
      var n = 0L
      it.foreach { r =>
        val u = proj(r)
        sum += org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        n += 1
      }
      Iterator((sum, n))
    }.collect()
    f"${parts.map(_._1).sum}%016x-${parts.map(_._2).sum}"
  }

  private def runQuery(name: String): Boolean = {
    val df = rec.span("entry.construct") {
      SparkEntry.materializeOrdered(SparkEntry.queries(name)(spark, dir))
    }
    rec.span("catalyst.plan") { df.queryExecution.executedPlan }
    val dg = rec.span("exec.action") { digest(df) }
    rec.span("cleanup.drain") { Cleanup.drain() }
    if (!digests.contains(name)) digests(name) = dg
    record || reference.get(name).contains(dg)
  }

  def setup(): Unit = {
    spark.conf.set("spark.sql.shuffle.partitions",
      graft.util.SessionTuning.shufflePartitionsConf(dir))
    // warm-up passes: the first builds the shared at-rest fixtures (q73,
    // q74) and compiles every plan shape, the next let the JIT settle, so
    // the timed pass does not depend on the seeded order's compile timing
    (0 until Sizes.StarWarmPasses).foreach { _ =>
      StarAnalytics.queries.foreach(q => try runQuery(q) catch { case _: Throwable => () })
    }
  }

  def cycle(c: Int, traced: Int => Boolean): Unit =
    StarAnalytics.order(rnd).zipWithIndex.foreach { case (q, i) =>
      rec.op(c, q, "read", traced(i)) { runQuery(q) }
    }

  def finish(): Map[String, Double] = {
    if (record) DigestFile.write(digestFile, digests.toMap)
    Map.empty
  }
}

// ---------------------------------------------------------------------------

object CorpusIndex {
  /** One cycle: an ingest, 4 searches, a delete, 4 searches, always in this
    * order, so every cycle's searches meet the same pending runs. */
  val CycleOps: Seq[String] = Seq("ingest") ++ Seq.fill(4)("search") ++
    Seq("delete") ++ Seq.fill(4)("search")

  /** The texts of the fixture's `documents`, in doc_id order. */
  def baseDocs(spark: SparkSession, fixture: String): IndexedSeq[String] =
    graft.model.Tables.documents(spark, fixture).orderBy("doc_id").select("text")
      .collect().map(r => Option(r.getString(0)).getOrElse("")).toIndexedSeq
}

/** Merge-on-read text index under searches, deletes and near-dup ingests. */
final class CorpusIndex(spark: SparkSession, rec: Recorder, root: String,
                        seed: Long, fixture: String) extends Workload {
  private val corpus = new Gen.Corpus(seed, CorpusIndex.baseDocs(spark, fixture), Sizes.Copies)
  private val idx = s"$root/state/text_index"
  private val lsh = s"$root/state/lsh_index"
  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))
  /** The live doc ids of each version of the index; every delete or ingest
    * starts a new version. */
  private val liveAt = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
  /** A timed search: its op id, terms, index version and top 10. */
  private final case class Search(op: Int, terms: Seq[String], version: Int,
                                  hits: Seq[(Long, Double)])
  private val searches = scala.collection.mutable.ArrayBuffer.empty[Search]

  private def df(rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(rows.map { case (i, t) => Row(i, t) }.asJava, schema)

  private def build(dir: String, ids: Iterable[Long]): Unit =
    TextAnalysis.writeIndexLayout(df(ids.toSeq.sorted.map(i => i -> corpus.textOf(i))),
      "doc_id", col("text"), dir, 16)

  private def top10(dir: String, terms: Seq[String]): Seq[(Long, Double)] =
    TextAnalysis.bm25SearchLayout(spark, dir, terms)
      .orderBy(col("bm25").desc, col("doc_id")).limit(10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSeq

  def setup(): Unit = {
    val docs = df(corpus.initial())
    liveAt += corpus.live.toSet
    rec.mark("generated")
    TextAnalysis.writeIndexLayout(docs, "doc_id", col("text"), idx, 16)
    rec.mark("text_index")
    Dedup.writeLshIndex(docs, "doc_id", col("text"), lsh)
    Cleanup.drain()
    rec.mark("lsh_index")
    // untimed warm-up of the search path
    (0 until 2).foreach(_ => top10(idx, corpus.terms()))
  }

  /** After a delete or ingest: a new version, and the index must hold
    * exactly the live docs. */
  private def newVersion(): Unit = {
    rec.untimed(liveAt += corpus.live.toSet)
    rec.check("indexed doc ids differ from the live docs") {
      TextAnalysis.readIndexDocStore(spark, idx).select("doc_id").distinct().collect()
        .map(_.getLong(0)).toSet == liveAt.last
    }
  }

  def cycle(c: Int, traced: Int => Boolean): Unit =
    CorpusIndex.CycleOps.zipWithIndex.foreach {
      case ("search", i) =>
        val terms = rec.untimed(corpus.terms())
        val tomb = if (traced(i)) rec.untimed(LayoutTxn.resolveSnapshot(
          LayoutTxn.snapshot(idx), "_tomb", "tr").size) else 0
        var hits = Seq.empty[(Long, Double)]
        rec.op(c, "search", "read", traced(i)) {
          hits = rec.span("text.search") { top10(idx, terms) }
          rec.span("cleanup.drain") { Cleanup.drain() }
          hits.nonEmpty
        }
        if (traced(i)) rec.annotateLast("tomb_runs", tomb)
        searches += Search(rec.ops.length - 1, terms, liveAt.length - 1, hits)
      case ("delete", i) =>
        val victims = rec.untimed(corpus.victims(Sizes.Batch))
        rec.op(c, "delete", "write", traced(i)) {
          import spark.implicits._
          rec.span("text.delete") {
            TextAnalysis.indexDeleteLayout(spark, idx, victims.toDF("doc_id"), "doc_id")
          }
          rec.span("cleanup.drain") { Cleanup.drain() }
          true
        }
        newVersion()
      case (_, i) =>
        val batch = rec.untimed(corpus.ingest(Sizes.Batch))
        rec.op(c, "ingest", "write", traced(i)) {
          val docs = df(batch)
          val hits = rec.span("dedup.probe") {
            Dedup.lshIndexUpsert(spark, lsh, docs, "doc_id", col("text"))
              .select("b").distinct().count()
          }
          rec.count("probed", batch.size)
          rec.count("near_dups", hits)
          rec.span("text.upsert") {
            TextAnalysis.indexUpsertLayout(spark, idx, docs, "doc_id", col("text"))
          }
          rec.span("cleanup.drain") { Cleanup.drain() }
          true
        }
        newVersion()
    }

  private def same(a: Seq[(Long, Double)], b: Seq[(Long, Double)]): Boolean = {
    def close(x: Double, y: Double) = math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x))
    a.length == b.length && a.zip(b).forall { case (x, y) => close(x._2, y._2) } && {
      // ids must agree except among scores tied with the last kept score
      val cut = a.lastOption.map(_._2).getOrElse(0.0)
      def sure(s: Seq[(Long, Double)]) = s.filter(x => !close(x._2, cut)).map(_._1).toSet
      sure(a) == sure(b)
    }
  }

  def finish(): Map[String, Double] = {
    // every timed search against an index rebuilt, untimed, from the docs
    // that were live when it ran; the last version's rebuild also gives
    // space_amp: the maintained index against a fresh write of its live docs
    var bad = 0
    val last = liveAt.length - 1
    val versions = (searches.map(_.version) :+ last).distinct.sorted
    var freshBytes = 0L
    versions.foreach { v =>
      val dir = s"$root/state/rebuilt-$v"
      build(dir, liveAt(v))
      searches.filter(_.version == v).foreach { s =>
        if (rec.ops(s.op).ok && !same(s.hits, top10(dir, s.terms))) {
          rec.fail(s.op, s"search ${s.terms.mkString(" ")} differs from a rebuilt index")
          bad += 1
        }
      }
      if (v == last) freshBytes = Workloads.dirBytes(dir)
      Workloads.deleteTree(dir)
    }
    Map("space_amp" -> Workloads.dirBytes(idx).toDouble / freshBytes,
      "checked_searches" -> searches.size.toDouble, "mismatched_searches" -> bad.toDouble,
      "live_docs" -> corpus.live.size.toDouble, "versions" -> liveAt.size.toDouble)
  }
}
