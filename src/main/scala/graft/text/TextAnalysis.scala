package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Text-analysis operators for a training-data pipeline (north-star ⊕ ops,
  * SURVEY.md §2 legend): language ID, quality scoring, token counting,
  * fingerprinting. Everything is built-in Column expressions — fully
  * codegen'd, no UDFs — so the whole stage stays inside WholeStageCodegen
  * and scales linearly with input splits.
  */
object TextAnalysis {

  /** Whitespace word list with empty tokens dropped (texts carry trailing
    * spaces). `filter` is the codegen'd higher-order function, not a UDF. */
  def words(text: Column): Column =
    filter(split(text, " "), w => w =!= "")

  /** BM25 keyword relevance of every document against a bag of query
    * `terms` (Robertson k1/b defaults; the smoothed idf
    * `ln(1 + (N - df + 0.5) / (df + 0.5))` Lucene uses) — the LEXICAL
    * half of a hybrid retrieval stack (⊕A12's inverted index answers
    * presence; this scores RANK). One row per document containing at
    * least one query term: (idCol, bm25).
    *
    * Scale shape: the query terms are a tiny literal set, so the
    * corpus-wide explode filters to them BEFORE any shuffle (everything
    * else drops map-side); the per-(doc, term) tf then shuffles only the
    * matching slice, the per-term df is a |terms|-row aggregate joined
    * back by broadcast, and N/avg-len are one tiny agg. Document length
    * rides the tf rows (functionally dependent on the id), so scoring is
    * a sum on the tf shuffle's own partitioning. No UDFs — every step
    * whole-stage codegens. */
  def bm25(docs: DataFrame, idCol: String, text: Column,
           terms: Seq[String], k1: Double = 1.2,
           b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val lens = docs.select(col(idCol),
      size(words(text)).cast("double").as("__len"))
    val c = lens.agg(count(lit(1)).cast("double"), avg(col("__len"))).head()
    val (n, avgLen) = (c.getDouble(0), c.getDouble(1))
    val tf = docs.select(col(idCol), words(text).as("__ws"))
      .select(col(idCol), size(col("__ws")).cast("double").as("__len"),
        explode(col("__ws")).as("__tok"))
      .filter(col("__tok").isin(terms: _*))
      .groupBy(col(idCol), col("__len"), col("__tok"))
      .agg(count(lit(1)).cast("double").as("__tf"))
    val dfs = tf.groupBy(col("__tok"))
      .agg(count(lit(1)).cast("double").as("__df"))
    tf.join(broadcast(dfs), "__tok")
      .withColumn("__s",
        log(lit(1.0) + (lit(n) - col("__df") + lit(0.5)) / (col("__df") + lit(0.5))) *
          col("__tf") * lit(k1 + 1.0) /
          (col("__tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("__len") / lit(avgLen))))
      .groupBy(col(idCol)).agg(sum(col("__s")).as("bm25"))
  }

  // Tiny per-language marker lexicons for the n-gram-free heuristic
  // language ID. Deterministic and engine-portable; on the synthetic corpus
  // the *determinism* is what the oracle checks.
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "fast", "slow"),
    "es" -> Seq("data", "valor", "tabla", "fila", "query"),
    "de" -> Seq("gruppe", "wert", "zeile", "schnell", "merge"),
    "fr" -> Seq("table", "ligne", "valeur", "group", "sort"),
    "zh" -> Seq("hash", "scan", "join", "stream", "batch"))

  /** Score = #words found in the language's marker list. */
  def langScore(text: Column, markers: Seq[String]): Column =
    size(filter(words(text), w => w.isInCollection(markers))).cast("long")

  /** Heuristic language ID: argmax over marker-list scores, ties broken by
    * language name order; "und" when every score is 0. */
  def langId(text: Column): Column = {
    val scored = langMarkers.map { case (l, m) => (l, langScore(text, m)) }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = scored.sortBy(_._1).foldRight(lit("und")) {
      case ((l, s), acc) => when(s === best && best > 0, lit(l)).otherwise(acc)
    }
    pick
  }

  /** Quality-score feature columns: length, alpha ratio, stopword ratio,
    * mean word length, plus a composite in [0,1]. Mirrors the usual
    * pretraining-filter heuristics (C4/Gopher-style length+ratio rules). */
  def qualityFeatures(df: DataFrame, text: Column): DataFrame = {
    val staged = df.withColumn("__ws", words(text))
    val ws = col("__ws")
    val nWords = size(ws).cast("long")
    val nChars = length(text).cast("long")
    val stop = Seq("the", "a", "of", "and", "to", "in")
    val nStop = size(filter(ws, w => w.isInCollection(stop))).cast("long")
    val meanWordLen = when(nWords > 0,
      aggregate(ws, lit(0L), (acc, w) => acc + length(w).cast("long"))
        .cast("double") / nWords.cast("double")).otherwise(lit(0.0))
    val stopRatio = when(nWords > 0,
      nStop.cast("double") / nWords.cast("double")).otherwise(lit(0.0))
    val lenScore = least(nWords.cast("double") / lit(20.0), lit(1.0))
    // 6-decimal truncation, not round: floor on a bit-identical double is
    // exact in every engine, while round() ties (x.xxxxxx5) break
    // differently between Spark and DuckDB at large row counts
    def trunc6(c: Column): Column = floor(c * lit(1e6)).cast("double") / lit(1e6)
    staged.withColumn("n_words", nWords)
      .withColumn("n_chars_m", nChars)
      .withColumn("stop_ratio", trunc6(stopRatio))
      .withColumn("mean_word_len", trunc6(meanWordLen))
      .withColumn("quality",
        trunc6(lit(0.5) * lenScore + lit(0.3) * stopRatio
          + lit(0.2) * least(meanWordLen / lit(8.0), lit(1.0))))
      .drop("__ws")
  }

  /** GPT-2-style pretokenizer pattern: contractions, optionally
    * space-prefixed letter/digit/punctuation runs, then whitespace runs.
    * Deliberately lookaround-free so the SAME pattern runs identically
    * under Java regex (Spark) and RE2 (DuckDB oracle); the count of its
    * matches is the standard pre-merge token count a BPE tokenizer starts
    * from (merges only ever shrink within a pretoken, so this upper-bounds
    * and closely tracks real BPE token counts). */
  val BpeRe: String = "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\\sA-Za-z0-9]+|\\s+"

  /** Token count, three ways: whitespace words, a chars/4 BPE estimate
    * (≈ one token per 4 chars, floored at the word count), and the match
    * count of the GPT-2-style pretokenizer regex [[BpeRe]] — all codegen'd
    * expressions on the scan, no UDFs. */
  def tokenCounts(df: DataFrame, text: Column): DataFrame = {
    val nWords = size(words(text)).cast("long")
    val bpeIsh = greatest(nWords, ceil(length(text).cast("double") / 4.0).cast("long"))
    val nRe = when(text.isNull, lit(0L))
      .otherwise(size(regexp_extract_all(text, lit(BpeRe), lit(0))).cast("long"))
    df.withColumn("n_tokens_ws", nWords)
      .withColumn("n_tokens_bpe", bpeIsh)
      .withColumn("n_tokens_re", nRe)
  }

  /** TF-IDF: term frequency per (doc, term) × ln(N / doc-frequency).
    * ONE shuffle (the per-term df rollup): tf is computed ROW-LOCALLY by
    * the fused [[graft.functions.TermCounts]] kernel in the scan stage —
    * `explode(term_counts(text))` yields the identical (doc, term, tf)
    * rows the explode→groupBy(doc,term) form shuffles the whole exploded
    * corpus for. df is then a rollup OF tf (tf has exactly one row per
    * doc×term, so counting rows per term IS the document frequency) — the
    * naive form explodes the corpus twice and pays a distinct shuffle.
    * No broadcast hint on the doc-frequency side: a web-scale corpus
    * has a multi-billion-term vocabulary that would OOM the driver — the
    * tf⋈df join shuffles on `term` (sort-merge at scale) and AQE downgrades
    * it to a broadcast when the vocabulary actually fits. N is folded in as
    * a 1-row cross join (one extra stage, no driver-side count action). */
  def tfidf(docs: DataFrame, idCol: String, text: Column): DataFrame = {
    val n = docs.agg(count(lit(1)).cast("double").as("__n"))
    // tf feeds both the df rollup and the join, but is row-local kernel
    // work over the scan (no shuffle) — recomputing it per consumer is
    // cheaper than a materialization barrier
    val tf = docs.select(col(idCol),
        explode(graft.functions.TextFunctions.termCounts(text)).as(Seq("term", "__tf")))
      .select(col(idCol), col("term"), col("__tf").cast("long").as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(df, Seq("term"))
      .crossJoin(n) // single-row side ⇒ planned as a trivial broadcast
      .withColumn("tfidf", round(col("tf") * log(col("__n") / col("df")), 6))
      .drop("__n")
  }

  /** Sparse-vector document similarity join: cosine over [[tfidf]] weight
    * vectors, computed entirely through term-keyed joins — the sparse
    * complement of the dense-embedding LSH path
    * ([[graft.sim.Similarity]]): no embeddings needed, candidates are
    * exactly the pairs sharing >= 1 term, and the dot product sums weight
    * products per shared term.
    *
    * Scale: the pair fan-out of a term with document frequency df is
    * df² — `maxDf` caps it (stopword-frequency terms carry ~zero tfidf
    * weight anyway, so dropping them bounds the join skew without moving
    * the scores; the same df-cap discipline as LSH bucket caps and
    * winnowing). Everything shuffles on `term` then on the pair key; no
    * driver-side vocabulary, no cross join.
    *
    * Determinism (oracle-hash-proof) AND throughput share one trick: the
    * 6-decimal [[tfidf]] weights are scaled to 1e6-integers (BIGINT), so
    * norms and dots are exact order-independent LONG sums of long
    * products — the agg stays on the codegen fast path (a DECIMAL(18,6)
    * product forces precision-37 BigDecimal per pair-term row: measured
    * 3x the whole query). The final cosine is IEEE double sqrt/divide +
    * floor-truncation over those exact integers — identical in any
    * engine. Long range: |dot| <= terms/doc x (1e6·max_wt)²; with tfidf
    * weights <= ~500 (tf <= 60) that is ~8e18 < 2^63 — a corpus with
    * larger tf x idf products needs the weights rescaled. */
  def tfidfCosinePairs(docs: DataFrame, idCol: String, text: Column,
                       minSim: Double, maxDf: Option[Long] = None,
                       probe: Option[Column => Column] = None): DataFrame = {
    val wt = {
      val base = tfidf(docs, idCol, text)
      maxDf.fold(base)(cap => base.filter(col("df") <= cap))
        .select(col(idCol).as("doc"), col("term"),
          round(col("tfidf") * lit(1e6), 0).cast("long").as("wt"))
    }
    // `probe` restricts the LEFT side of the candidate join BEFORE it runs
    // (batch-of-queries vs corpus, each probe paired with every b != a) —
    // the fan-out becomes |probe terms| × df instead of Σ df². On a corpus
    // whose vocabulary is NOT Zipfian (like the 31-term synthetic one,
    // where every df ≈ N and a df-cap would keep nothing), the full
    // self-join is inherently Σ df² ≈ N²: probe batching is the scale
    // path, exactly as brute-force cosine (q24) is probe-batched.
    // a probe batch is small by definition — broadcast it, so the corpus
    // weight table is probed in place (no shuffle of the big side at all,
    // the q24 brute-force-cosine discipline); the full self-join keeps the
    // term-keyed sort-merge shape
    // norms ride ALONG the weight rows (one windowed agg per doc — no
    // separate norm table, no join) into the pair join, then through the
    // dot aggregation as grouping columns (functionally dependent on the
    // pair key): the cosine needs NO post-aggregation joins at all.
    // Materialized once for the two join sides.
    val wn = wt.withColumn("nrm",
        sqrt(sum(col("wt") * col("wt"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(col("doc")))
          .cast("double") / lit(1e12)))
      .transform(graft.util.Cleanup.checkpoint(_))
    val a0 = probe.fold(wn)(p => wn.filter(p(col("doc"))))
      .select(col("doc").as("a"), col("term"), col("wt").as("wa"),
        col("nrm").as("na"))
    val a = if (probe.isDefined) broadcast(a0) else a0
    val b = wn.select(col("doc").as("b"), col("term"), col("wt").as("wb"),
      col("nrm").as("nb"))
    val pairCond = if (probe.isDefined) col("a") =!= col("b") else col("a") < col("b")
    a.join(b, Seq("term")).filter(pairCond)
      .groupBy(col("a"), col("b"), col("na"), col("nb"))
      .agg(sum(col("wa") * col("wb")).cast("double").as("dot"))
      .select(col("a"), col("b"),
        (floor(col("dot") / lit(1e12) / (col("na") * col("nb")) * lit(1e6))
          .cast("double") / lit(1e6))
          .as("cos"))
      .filter(col("cos") >= minSim)
  }

  /** Inverted index: one row per term with its document frequency and the
    * sorted posting list of (doc_id, tf) structs — the at-rest search
    * structure for a text corpus. One explode + two aggregations, all
    * shuffling on `term`; posting lists are per-term rows (never collected
    * to the driver), so a 100 TB corpus's index is itself a distributed
    * table, written partitioned/bucketed by term like any other. Hot-term
    * posting lists are the same skew surface as LSH buckets — cap with a
    * df filter downstream (stopword terms carry no search signal anyway). */
  def invertedIndex(docs: DataFrame, idCol: String, text: Column): DataFrame =
    docs.select(col(idCol).as("doc_id"), explode(words(text)).as("term"))
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        sort_array(collect_list(struct(col("doc_id"), col("tf")))).as("postings"))

  /** md5-derived term bucket, the engine-portable hash idiom (q107/q125):
    * first 8 md5 hex chars → int, mod `buckets`. Computable identically in
    * Spark (conv/substring), DuckDB, and driver-side JVM code — which is
    * what lets [[searchIndexLayout]] turn query terms into literal
    * partition values. */
  private def termBucket(term: Column, buckets: Int): Column =
    pmod(conv(substring(md5(term), 1, 8), 16, 10).cast("long"), lit(buckets))

  private[text] def termBucketJvm(term: String, buckets: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(term.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 8)
    java.lang.Long.parseLong(hex, 16) % buckets
  }

  /** AT-REST inverted-index layout (the q94 IVF-layout precedent applied
    * to text search): the [[invertedIndex]] table written hive-partitioned
    * by an md5-derived term bucket. A search for k terms then reads ONLY
    * the ≤k `tb=` directories those terms hash into — the partition
    * filter is driver-computable because the bucket hash is the portable
    * md5 idiom, so "read only the query terms' postings" becomes literal
    * directory pruning on a 100 TB index instead of a full index scan.
    * IndexLayoutSpec asserts the PartitionFilters; q166's oracle proves
    * layout+pruned-search ≡ searching a freshly built index. */
  def writeIndexLayout(index: DataFrame, dir: String,
                       buckets: Int = 16): Unit =
    writeIndexLayoutImpl(index, dir, buckets, rawDocs = None)

  /** [[writeIndexLayout]] from the RAW corpus: builds the inverted index
    * AND a doc store that covers term-less documents too (sentinel rows,
    * see [[docMapOf]]) — use this form when the corpus may contain empty
    * documents and [[bm25SearchLayout]] must agree with [[bm25]] over raw
    * text. The index-only form can't know about docs it never saw; its
    * doc store defines the corpus as "indexed docs". */
  def writeIndexLayout(docs: DataFrame, idCol: String, text: Column,
                       dir: String, buckets: Int): Unit =
    writeIndexLayoutImpl(invertedIndex(docs, idCol, text), dir, buckets,
      rawDocs = Some((docs, idCol, text)))

  private val IdxMeta = "_idx_meta"

  /** The layout's bucket count is a LAYOUT FACT (the `_lsh_meta`
    * discipline at the text tier, r17): a probe/delete/search computing
    * `tb`/`dm` with a different count would silently find nothing (search)
    * or miss victim rows (delete). Persisted at write time; readers
    * REFUSE a mismatched caller value rather than trusting it. Indexes
    * written before the meta file existed fall back to the caller's value
    * (the legacy contract: caller-consistent parameters). */
  private def metaFileBuckets(dir: String): Option[Int] = {
    val p = java.nio.file.Paths.get(dir, IdxMeta)
    if (!java.nio.file.Files.exists(p)) None
    else {
      val pr = new java.util.Properties()
      val in = java.nio.file.Files.newInputStream(p)
      try pr.load(in) finally in.close()
      Some(pr.getProperty("buckets").toInt)
    }
  }

  /** The layout's PERSISTED bucket count, or None for a pre-r17 index —
    * the SQL TVFs resolve the count from the layout itself so a pure-SQL
    * caller never has to know it. Since r18's [[indexRescaleLayout]] the
    * authoritative copy rides the LayoutTxn version state (it must change
    * ATOMICALLY with the partition map); `_idx_meta` remains as the
    * write-time copy for never-rescaled layouts. */
  def persistedIndexBuckets(dir: String): Option[Int] =
    graft.layout.LayoutTxn.currentProps(dir).get("buckets").map(_.toInt)
      .orElse(metaFileBuckets(dir))

  /** Callers pass this (the parameter default) to mean "the layout's own
    * persisted count" — after an [[indexRescaleLayout]] no caller should
    * have to know the current value. An EXPLICIT caller count is still
    * cross-checked against the persisted one and refused on mismatch. */
  private val LayoutResolvedBuckets = -1

  private def bucketsFromSnapshot(snap: graft.layout.LayoutTxn.LayoutSnapshot,
                                  caller: Int): Int =
    snap.props.get("buckets").map(_.toInt)
      .orElse(metaFileBuckets(snap.dir)) match {
      case None =>
        if (caller == LayoutResolvedBuckets) 16 // the historical writer default
        else caller
      case Some(persisted) =>
        require(caller == LayoutResolvedBuckets || caller == persisted,
          s"index at ${snap.dir} was written with buckets=$persisted but " +
            s"the call passed buckets=$caller — a mismatched bucket count " +
            "probes the wrong partitions silently; pass the index's own value")
        persisted
    }

  private def layoutBuckets(dir: String, caller: Int): Int =
    bucketsFromSnapshot(graft.layout.LayoutTxn.snapshot(dir), caller)

  private def writeIndexLayoutImpl(index: DataFrame, dir: String,
                                   buckets: Int,
                                   rawDocs: Option[(DataFrame, String, Column)])
      : Unit = {
    val bucketed = index.withColumn("tb", termBucket(col("term"), buckets))
      .transform(graft.util.Cleanup.checkpoint(_))
    bucketed.write.partitionBy("tb").mode("overwrite").parquet(dir)
    val pr = new java.util.Properties()
    pr.setProperty("buckets", buckets.toString)
    val out = java.nio.file.Files.newOutputStream(
      java.nio.file.Paths.get(dir, IdxMeta))
    try pr.store(out, "graft inverted-index layout parameters")
    finally out.close()
    // the doc→bucket reverse map every real index keeps beside its
    // postings (the "doc store"): without it, REPLACING a document cannot
    // find the buckets holding its old terms without scanning the whole
    // index. `_`-prefixed, so the layout's own partition discovery skips
    // it; partitioned by a doc bucket so maintenance rewrites only
    // touched dm= dirs.
    writeDocMap(docMapOf(bucketed, buckets, rawDocs), s"$dir/$DocMapDir")
  }

  private val DocMapDir = "_docmap"

  /** Tombstone-run subtree (r20 — VERDICT r19 task 1, the merge-on-read
    * DELETE): [[indexDeleteLayout]] APPENDS its victim doc-ids here as an
    * O(victims) run instead of eagerly rewriting every `tb=` bucket the
    * victims' postings touch. At mult 256 the eager 64-victim delete cost
    * MORE than a whole-index rescale (17.8 vs 14.3 s, BASELINE.md r19):
    * multi-term victims hash into every bucket, so "rewrite the touched
    * buckets" degenerates into a near-full rewrite. With runs, the write
    * side is O(victims) and every reader applies the tombstones with ONE
    * broadcast (a 1-row collect_set crossJoin; postings filter + exact df
    * recompute — df == size(postings) is a writer invariant, so the
    * recompute is identity on live rows). Materialization happens where
    * the index is rewritten anyway: [[indexRescaleLayout]] folds the
    * tombstones into its full rewrite, [[indexCompactLayout]] materializes
    * them in a dedicated commit before folding owners, and
    * [[indexApplyLayout]] drops its own victims' entries (their postings
    * leave physically in the same commit — which is also what lets a
    * DELETED doc be re-upserted without resurrecting stale postings: the
    * doc store keeps the victims' rows PHYSICALLY, logically filtered, so
    * a later apply can still locate the stale buckets). */
  private val TombDir = "_tomb"

  private def tombRunsOf(snap: graft.layout.LayoutTxn.LayoutSnapshot)
      : Seq[(String, String)] =
    graft.layout.LayoutTxn.resolveSnapshot(snap, TombDir, "tr")

  /** One snapshot's pending tombstones in the form its readers consume.
    * [[NoTombs]]: reads stay on their raw, byte-identical plans.
    * [[SmallTombs]]: the ids INLINE as a literal array — no extra scan,
    * no broadcast, one predicate (the common case: tombstones are
    * bounded by victims since the last materialization, and every full
    * rewrite clears them). [[BigTombs]]: past [[TombLiteralMax]] the ids
    * stay distributed as a 1-row collect_set frame broadcast into the
    * read — a literal array that size would bloat every plan. */
  private sealed trait TombView
  private case object NoTombs extends TombView
  private final case class SmallTombs(ids: Array[Long]) extends TombView
  private final case class BigTombs(df: DataFrame) extends TombView
  private val TombLiteralMax = 4096

  /** What readers derive from one committed snapshot beyond its files:
    * the pending-tombstone view and BM25's doc-store `(N, avgLen)`. Both
    * are functions of the snapshot alone, so each is computed on first
    * use and then reused by every later read of the same commit — a hot
    * search path pays the tombstone read (one collect job) and the corpus
    * aggregate (one job over the doc store) once per commit instead of
    * once per query. */
  private final class SnapshotFacts(spark: org.apache.spark.sql.SparkSession,
                                    snap: graft.layout.LayoutTxn.LayoutSnapshot) {
    lazy val tombs: TombView =
      if (tombRunsOf(snap).isEmpty) NoTombs
      else {
        val idsDf = graft.layout.LayoutTxn
          .readSnapshot(spark, snap, TombDir, "tr")
          .select(col("doc_id"))
        // bounded driver read (the terms→bucket-literal discipline: tiny
        // metadata steering a plan): one small run file per delete commit.
        // Raw rows (runs may repeat an id): if the capped collect saw
        // EVERY row, dedupe driver-side; a truncated read means the set
        // may exceed the literal cap — stay distributed.
        val probe = idsDf.limit(TombLiteralMax + 1).collect()
          .map(_.getLong(0))
        if (probe.isEmpty) NoTombs
        else if (probe.length <= TombLiteralMax)
          SmallTombs(probe.distinct.sorted)
        else BigTombs(idsDf.distinct()
          .agg(collect_set(col("doc_id")).as("__tomb")))
      }

    /** The live doc store's (doc_id, len) rows: what BM25 joins its
      * candidates against. */
    lazy val lens: DataFrame = liveDocMap(tombs, graft.layout.LayoutTxn
        .readSnapshot(spark, snap, DocMapDir, "dm"))
      .select(col("doc_id"), col("len")).distinct()

    /** BM25's corpus size N and average document length. */
    lazy val corpusStats: (Double, Double) = {
      val c = lens.agg(count(lit(1)).cast("double"),
        avg(col("len").cast("double"))).head()
      (c.getDouble(0), c.getDouble(1))
    }
  }

  /** [[SnapshotFacts]] memoized per (layout dir, commit id) — the r19
    * streaming schema-cache discipline. The commit id is random per
    * commit, so a key never names two states, even when an in-place
    * rebuild restarts the version count (a version key served the
    * rebuilt layout's new v1 the old v1's tombstones). Version-0 and
    * pre-commit-id snapshots have no id and are never cached.
    * Process-local; dies with the JVM. */
  private val snapshotFacts = new java.util.concurrent.ConcurrentHashMap[
    (String, String), SnapshotFacts]()

  private def factsOf(spark: org.apache.spark.sql.SparkSession,
                      snap: graft.layout.LayoutTxn.LayoutSnapshot)
      : SnapshotFacts =
    snap.commitId match {
      case None => new SnapshotFacts(spark, snap)
      case Some(id) =>
        if (snapshotFacts.size > 4096) snapshotFacts.clear() // fuzz-lane bound
        snapshotFacts.computeIfAbsent((snap.dir, id),
          _ => new SnapshotFacts(spark, snap))
    }

  private def tombViewOf(spark: org.apache.spark.sql.SparkSession,
                         snap: graft.layout.LayoutTxn.LayoutSnapshot)
      : TombView = factsOf(spark, snap).tombs

  /** Apply pending delete tombstones to a postings read by REWRITING the
    * arrays: drop tombstoned doc-ids from every postings array, drop
    * terms with no survivors, and recompute df (exact: df ==
    * size(postings) is a writer invariant). Tombstone-free snapshots
    * return the plan UNTOUCHED. This is the MATERIALIZATION-GRADE form —
    * the ArrayFilter lambda is a codegen-fallback expression whose
    * per-run planning overhead measured ~0.35 s (r20 bisect), so the hot
    * search paths use [[liveDf]] + [[liveOcc]] instead (exact df
    * arithmetic pre-explode + a codegen InSet row filter post-explode)
    * and only [[readIndexPostings]]/[[indexRescaleLayout]] (the full
    * rewrite, where the lambda amortizes over the rewrite itself) pay
    * this form. */
  private def liveIndex(view: TombView, postings: DataFrame): DataFrame =
    view match {
      case NoTombs => postings
      case SmallTombs(ids) =>
        val tomb = typedLit(ids.toSeq)
        postings
          .withColumn("postings", filter(col("postings"),
            p => not(array_contains(tomb, p("doc_id")))))
          .filter(size(col("postings")) > 0)
          .withColumn("df", size(col("postings")).cast("long"))
      case BigTombs(df) => postings
        .crossJoin(broadcast(df))
        .withColumn("postings", filter(col("postings"),
          p => not(array_contains(col("__tomb"), p("doc_id")))))
        .filter(size(col("postings")) > 0)
        .withColumn("df", size(col("postings")).cast("long"))
        .drop("__tomb")
    }

  /** Hot-path df adjustment WITHOUT rewriting the postings arrays: df
    * loses exactly the tombstoned ids present in the row's postings
    * (|postings ∩ tomb| via array_intersect — df == size(postings) is a
    * writer invariant, so the arithmetic is exact), and fully-dead terms
    * drop. The arrays still carry the dead entries — every consumer
    * explodes right after and must row-filter with [[liveOcc]]. BigTombs
    * falls back to the materialization-grade [[liveIndex]] (no literal to
    * intersect against); tombstone-free reads are untouched. */
  private def liveDf(view: TombView, postings: DataFrame): DataFrame =
    view match {
      case NoTombs => postings
      case SmallTombs(ids) =>
        val tomb = typedLit(ids.toSeq)
        postings
          .withColumn("df", (col("df") - size(array_intersect(
            col("postings").getField("doc_id"), tomb))).cast("long"))
          .filter(col("df") > 0)
      case big: BigTombs => liveIndex(big, postings)
    }

  /** Hot-path row filter for EXPLODED postings (columns include
    * `doc_id`): drop tombstoned docs with a codegen InSet — the
    * post-explode half of [[liveDf]]. BigTombs rows were already
    * materialized by [[liveDf]]'s fallback, so nothing filters here. */
  private def liveOcc(view: TombView, occ: DataFrame): DataFrame =
    view match {
      case SmallTombs(ids) =>
        occ.filter(not(col("doc_id").isin(ids.map(Long.box): _*)))
      case _ => occ
    }

  /** Apply pending delete tombstones to a doc-store read: tombstoned docs
    * leave the corpus logically (BM25's N/avg-length shrink) while their
    * rows stay PHYSICALLY until a materialization commit — they are the
    * reverse map a later re-upsert needs to find the stale buckets. */
  private def liveDocMap(view: TombView, dm: DataFrame): DataFrame =
    view match {
      case NoTombs => dm
      case SmallTombs(ids) =>
        dm.filter(not(col("doc_id").isin(ids.map(Long.box): _*)))
      case BigTombs(df) => dm
        .crossJoin(broadcast(df))
        .filter(not(array_contains(col("__tomb"), col("doc_id"))))
        .drop("__tomb")
    }

  /** Snapshot-isolated LOGICAL read of the whole postings layout — the
    * stored rows with any pending delete tombstones applied (exactly what
    * search/BM25/maintenance observe). Tombstone-free layouts read raw. */
  def readIndexPostings(spark: org.apache.spark.sql.SparkSession,
                        dir: String): DataFrame = {
    val snap = graft.layout.LayoutTxn.snapshot(dir)
    liveIndex(tombViewOf(spark, snap),
      graft.layout.LayoutTxn.readSnapshot(spark, snap, "", "tb"))
  }

  /** Snapshot-isolated LOGICAL read of the doc store (tombstones
    * applied) — the corpus membership BM25's N/avg-length derive from. */
  def readIndexDocStore(spark: org.apache.spark.sql.SparkSession,
                        dir: String): DataFrame = {
    val snap = graft.layout.LayoutTxn.snapshot(dir)
    liveDocMap(tombViewOf(spark, snap),
      graft.layout.LayoutTxn.readSnapshot(spark, snap, DocMapDir, "dm"))
  }
  /** The doc store rows: (doc_id, tb) pairs plus the document's LENGTH in
    * words (r16: Σ tf over its postings — what BM25's length
    * normalization needs; keeping it here makes the at-rest index
    * self-sufficient for RANKED search, no corpus read ever).
    *
    * When the RAW corpus is available (`rawDocs`), term-less documents
    * (empty/whitespace-only text — zero postings anywhere) each get ONE
    * sentinel row (tb = -1, len = 0), so the doc store covers the WHOLE
    * corpus: [[bm25SearchLayout]]'s N/avg-length then equal [[bm25]] over
    * the raw docs even for corpora with empty documents (ADVICE r16).
    * Without raw docs the store necessarily covers indexed docs only —
    * the index alone cannot know what it never saw. */
  private def docMapOf(bucketedIndex: DataFrame, buckets: Int,
                       rawDocs: Option[(DataFrame, String, Column)] = None)
      : DataFrame = {
    val occ = bucketedIndex.select(col("tb"), explode(col("postings")).as("p"))
      .select(col("p.doc_id").as("doc_id"), col("p.tf").as("tf"), col("tb"))
    val lens = occ.groupBy(col("doc_id")).agg(sum(col("tf")).as("len"))
    val mapped = occ.select(col("doc_id"), col("tb")).distinct()
      .join(lens, "doc_id")
    val whole = rawDocs match {
      case None => mapped
      case Some((docs, idCol, text)) =>
        // null-safe: size(words(NULL)) is NULL, not 0, so a null-text doc
        // would get neither postings nor a sentinel and drop from the
        // store (ADVICE r17 low). NULL text counts toward N on both sides
        // (bm25's count(lit(1)) counts every row) but is EXCLUDED from
        // avg-len on both sides (bm25's avg skips the null __len) — so
        // the sentinel's len is NULL for null text, 0 for empty text.
        val sentinels = docs
          .filter(coalesce(size(words(text)), lit(0)) <= 0)
          .select(col(idCol).cast("long").as("doc_id"),
            when(text.isNull, lit(null).cast("long")).otherwise(lit(0L))
              .as("len"))
          .distinct()
          .withColumn("tb", lit(-1L))
        mapped.unionByName(sentinels)
    }
    whole.withColumn("dm", pmod(col("doc_id"), lit(buckets)))
  }
  private def writeDocMap(dm: DataFrame, dir: String): Unit = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val spark = dm.sparkSession
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try dm.repartition(col("dm"))
      .write.mode("overwrite").partitionBy("dm").parquet(dir)
    finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Incremental maintenance of a [[writeIndexLayout]] directory — the
    * ⊕K10 IVF-upsert discipline at the index layer: upsert `newDocs`
    * (added OR replaced — a replaced doc's old postings are removed even
    * for terms its new text no longer contains) WITHOUT a rebuild.
    *
    * Touched buckets = those the delta's NEW terms hash into ∪ those
    * holding the upserted docs' OLD postings, found via the `_docmap`
    * doc→bucket reverse map written beside the layout (the "doc store"
    * every real index keeps: a replaced doc's stale terms hash into
    * buckets the new text never mentions, and without the map finding
    * them would need a full index scan). Only touched buckets are read
    * (the isin is a PartitionFilter), their postings exploded, superseded
    * doc ids anti-joined out, the delta unioned in, and exactly those
    * `tb=` dirs (plus the doc map's touched `dm=` dirs — both subtrees
    * ride ONE commit as two [[graft.layout.LayoutTxn.Group]]s) are
    * rewritten through the [[graft.layout.LayoutTxn]] stage/CAS-claim/swap
    * protocol: a concurrent upsert gets
    * [[graft.layout.LayoutTxn.ConflictException]] instead of interleaving
    * files, and a bucket emptied by the upsert is recorded as a deletion
    * and its dir dropped. Work is proportional to
    * the TOUCHED buckets' postings, not the corpus — though unlike IVF
    * cells a document's terms fan out across ~min(buckets, |terms|)
    * buckets, so the row bound (touched postings re-grouped), not the
    * directory count, is the claim. Returns the touched bucket ids. */
  def indexUpsertLayout(spark: org.apache.spark.sql.SparkSession,
                        layoutDir: String, newDocs: DataFrame, idCol: String,
                        text: Column, buckets: Int = LayoutResolvedBuckets,
                        txnGraceMs: Long = 600000L): Seq[Long] =
    indexApplyLayout(spark, layoutDir, newDocs, None, idCol, text, buckets,
      txnGraceMs)

  /** Apply ONE mixed change window — upserted docs AND deleted ids — to a
    * [[writeIndexLayout]] directory in ONE commit (r17, the CDC-follower
    * shape: a MergeTable window carries both verbs, and applying them in
    * two commits would leave a crash window where only half the window
    * landed). `batchId >= 0` records the window's id in the layout's
    * version state for the exactly-once replay discipline (the q200/q201
    * contract: a replayed window is skipped WHOLE, with the authoritative
    * re-check AFTER begin() — ADVICE r16 high). Victims = deleted ids ∪
    * upserted ids (a replaced doc's old postings leave even for terms its
    * new text lacks); deleted docs leave the doc store outright (N
    * shrinks), upserted docs re-enter it (term-less ones as sentinels).
    * Returns the touched `tb` bucket ids. */
  def indexApplyLayout(spark: org.apache.spark.sql.SparkSession,
                       layoutDir: String, newDocs: DataFrame,
                       deleteIds: Option[DataFrame], idCol: String,
                       text: Column, buckets: Int = LayoutResolvedBuckets,
                       txnGraceMs: Long = 600000L,
                       batchId: Long = -1L): Seq[Long] = {
    if (batchId >= 0 &&
        graft.layout.LayoutTxn.lastBatchId(layoutDir) >= batchId)
      return Seq.empty // fast path: the PUBLISHED state already has it
    // roll forward any crashed commit / conflict on a live one BEFORE
    // reading the layout this delta is computed against
    val parent = graft.layout.LayoutTxn.begin(layoutDir, txnGraceMs)
    // the bucket count resolves AFTER begin() (r18): a rescale committing
    // just before would otherwise leave this window computed at the OLD
    // count; one landing later conflicts at the CAS
    val bks = layoutBuckets(layoutDir, buckets) // layout fact, refuse mismatch
    // authoritative replay check AFTER begin() (ADVICE r16 high): a
    // commit crashed between claim and publish is invisible above
    if (batchId >= 0 &&
        graft.layout.LayoutTxn.lastBatchId(layoutDir) >= batchId)
      return Seq.empty
    val delta = invertedIndex(newDocs, idCol, text)
      .withColumn("tb", termBucket(col("term"), bks))
      .transform(graft.util.Cleanup.checkpoint(_))
    val deltaIds = newDocs.select(col(idCol).cast("long").as("doc_id"))
      .distinct().transform(graft.util.Cleanup.checkpoint(_))
    val victimIds = deleteIds match {
      case None => deltaIds
      case Some(ds) => deltaIds
        .unionByName(ds.select(col(idCol).cast("long").as("doc_id")))
        .distinct().transform(graft.util.Cleanup.checkpoint(_))
    }
    // touched = buckets the NEW terms hash into ∪ buckets holding the
    // victims' OLD postings — the latter via the doc→bucket reverse
    // map, because a replaced doc's stale terms (gone from the new text)
    // hash into buckets the delta's own terms never mention. The IVF
    // analogue reads stale cells off the vec_id column; an inverted index
    // needs the doc store for the same information.
    val newTb = delta.select(col("tb")).distinct()
      .collect().map(_.getLong(0)).toSet
    val staleTb = graft.layout.LayoutTxn
      .readLayout(spark, layoutDir, DocMapDir, "dm")
      .join(victimIds, Seq("doc_id"), "left_semi")
      .select(col("tb")).filter(col("tb") >= 0) // tb=-1 = term-less sentinel
      .distinct().collect().map(_.getLong(0)).toSet
    val touched = (newTb ++ staleTb).toSeq.sorted
    val existing = graft.layout.LayoutTxn.readLayout(spark, layoutDir, "",
      "tb", Some(touched.map(b => s"tb=$b").toSet))
    val survivors = existing
      .select(col("tb"), col("term"), explode(col("postings")).as("p"))
      .select(col("tb"), col("term"), col("p.doc_id").as("doc_id"),
        col("p.tf").as("tf"))
      .join(victimIds, Seq("doc_id"), "left_anti")
    val deltaOcc = delta
      .select(col("tb"), col("term"), explode(col("postings")).as("p"))
      .select(col("tb"), col("term"), col("p.doc_id").as("doc_id"),
        col("p.tf").as("tf"))
    val replacement = survivors.unionByName(deltaOcc)
      .groupBy(col("tb"), col("term"))
      .agg(count(lit(1)).as("df"),
        sort_array(collect_list(struct(col("doc_id"), col("tf")))).as("postings"))
      .select(col("term"), col("df"), col("postings"), col("tb"))
    // the doc store maintains itself in the SAME commit: victims' old
    // rows out, upserted docs' new (doc, bucket) rows in — only the
    // victims' dm= dirs rewrite (dm = doc_id mod buckets). A dm dir
    // emptied by the window becomes a deletion at swap (stale doc→bucket
    // rows would inflate later windows' touched-bucket sets).
    val dmTouched = victimIds
      .select(pmod(col("doc_id"), lit(bks.toLong)).as("dm")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    val dmSurvivors = graft.layout.LayoutTxn
      .readLayout(spark, layoutDir, DocMapDir, "dm",
        Some(dmTouched.map(b => s"dm=$b").toSet))
      .join(victimIds, Seq("doc_id"), "left_anti")
    // the delta's doc-map rows carry term-less sentinels too: a doc
    // REPLACED with empty text must stay in the doc store (len 0), or
    // bm25SearchLayout's N would silently shrink below bm25()'s
    val dmReplacement = dmSurvivors
      .unionByName(docMapOf(delta, bks, Some((newDocs, idCol, text))))
      .select(col("doc_id"), col("tb"), col("len"), col("dm"))
    // ONE stage/CAS-claim/swap commit covers both subtrees — postings and
    // doc store can never diverge under a crash or a racing writer; both
    // replacement plans read the live layout but are fully materialized
    // into the stage before any live dir is touched. An empty window with
    // a batchId still commits (dm group, zero touched) so the recorded
    // batchId advances — the CDC follower's progress watermark.
    val postingsGroup =
      if (touched.isEmpty) Seq.empty
      else Seq(graft.layout.LayoutTxn.Group("", replacement, "tb",
        Seq("term"), touched.map(b => s"tb=$b")))
    // pending delete tombstones (r20 merge-on-read delete): this window's
    // victims are materialized PHYSICALLY above (every bucket holding
    // their postings is in staleTb via the doc store's still-present rows,
    // and the anti-join removes them), so their tombstone entries leave in
    // the SAME commit — which is what lets a DELETED doc re-enter through
    // an upsert without its new postings being filtered. Entries for docs
    // outside this window stay (their dead postings stay physically too).
    val tombParts = graft.layout.LayoutTxn.resolve(layoutDir, TombDir, "tr")
    val tombGroup =
      if (tombParts.isEmpty) Seq.empty
      else Seq(graft.layout.LayoutTxn.Group(TombDir,
        graft.layout.LayoutTxn.readLayout(spark, layoutDir, TombDir, "tr")
          .select(col("doc_id")).distinct()
          .join(victimIds, Seq("doc_id"), "left_anti")
          .withColumn("tr", lit(0)),
        "tr", Seq("doc_id"), tombParts.map(_._1).distinct))
    graft.layout.LayoutTxn.commit(spark, layoutDir, parent,
      postingsGroup ++ tombGroup :+ graft.layout.LayoutTxn.Group(DocMapDir,
        dmReplacement, "dm", Seq("doc_id"), dmTouched.map(b => s"dm=$b")),
      batchId = batchId)
    touched
  }

  /** DELETE(ids) from a [[writeIndexLayout]] directory — MERGE-ON-READ
    * since r20 (VERDICT r19 task 1; was the r17 eager bucket rewrite):
    * the victims' doc-ids are APPENDED as a tombstone run under
    * [[TombDir]] in one O(victims) commit — no postings bucket and no
    * doc-store dir is rewritten. Every reader (search / BM25 / the SQL
    * TVFs / maintenance) applies the pending tombstones with one
    * broadcast anti-filter and recomputes df exactly, so the OBSERVED
    * index equals a rebuild without the victims (IndexLayoutSpec pins the
    * equivalence; the q204 oracle proves it against raw text). The
    * deferred rewrite happens where the index is rewritten anyway:
    * [[indexRescaleLayout]] and [[indexCompactLayout]] materialize the
    * tombstones, and [[indexApplyLayout]] clears its own victims'
    * entries. The eager rewrite cost the whole index at scale — at mult
    * 256 a 64-victim delete (17.8 s) exceeded a full rescale (14.3 s)
    * because multi-term victims touch every bucket (BASELINE.md r19).
    * Unlike an upsert-to-empty-text (which KEEPS the doc as a zero-length
    * corpus member), delete removes the document from the corpus
    * outright: BM25's N/avg-length shrink immediately (the doc store is
    * filtered at read). Returns the touched `tb` bucket ids — empty now,
    * since merge-on-read touches none. */
  def indexDeleteLayout(spark: org.apache.spark.sql.SparkSession,
                        layoutDir: String, victims: DataFrame, idCol: String,
                        buckets: Int = LayoutResolvedBuckets,
                        txnGraceMs: Long = 600000L): Seq[Long] = {
    val parent = graft.layout.LayoutTxn.begin(layoutDir, txnGraceMs)
    // count AFTER begin() — the indexApplyLayout rescale-race rule (r18);
    // resolved purely to REFUSE a mismatched caller count at the door
    // (the run itself is count-independent: doc-ids only)
    layoutBuckets(layoutDir, buckets)
    val tombRows = victims.select(col(idCol).cast("long").as("doc_id"))
      .distinct().withColumn("tr", lit(0))
    graft.layout.LayoutTxn.commit(spark, layoutDir, parent,
      Seq(graft.layout.LayoutTxn.Group(TombDir, tombRows, "tr",
        Seq("doc_id"), Seq("tr=0"), append = true)))
    Seq.empty
  }

  /** Materialize pending delete tombstones — the deferred half of the
    * merge-on-read [[indexDeleteLayout]], exactly the r17 eager delete
    * run once for ALL accumulated victims: postings out of the `tb=`
    * buckets the `_docmap` locates (df re-aggregates over survivors; a
    * term losing its last posting leaves; an emptied bucket is a
    * deletion), victims' doc-store rows out (term-less sentinels
    * included), and the tombstone runs cleared — all in ONE commit, so a
    * crash never leaves tombstones half-applied. No-op without pending
    * tombstones. */
  private def materializeTombstones(spark: org.apache.spark.sql.SparkSession,
                                    layoutDir: String,
                                    txnGraceMs: Long): Unit = {
    val parent = graft.layout.LayoutTxn.begin(layoutDir, txnGraceMs)
    val snap = graft.layout.LayoutTxn.snapshot(layoutDir)
    val tombParts = tombRunsOf(snap)
    if (tombParts.isEmpty) return
    val bks = bucketsFromSnapshot(snap, LayoutResolvedBuckets)
    val tombRead = graft.layout.LayoutTxn
      .readSnapshot(spark, snap, TombDir, "tr")
    val ids = tombRead.select(col("doc_id"))
      .distinct().transform(graft.util.Cleanup.checkpoint(_))
    val dmTouched = ids
      .select(pmod(col("doc_id"), lit(bks.toLong)).as("dm")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    val dmAll = graft.layout.LayoutTxn
      .readSnapshot(spark, snap, DocMapDir, "dm",
        Some(dmTouched.map(b => s"dm=$b").toSet))
    val tbTouched = dmAll.join(ids, Seq("doc_id"), "left_semi")
      .select(col("tb")).filter(col("tb") >= 0) // tb=-1 = term-less sentinel
      .distinct().collect().map(_.getLong(0)).toSeq.sorted
    val dmSurvivors = dmAll.join(ids, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("tb"), col("len"), col("dm"))
    val postingsGroup = if (tbTouched.isEmpty) Seq.empty else {
      val existing = graft.layout.LayoutTxn.readSnapshot(spark, snap, "",
        "tb", Some(tbTouched.map(b => s"tb=$b").toSet))
      val replacement = existing
        .select(col("tb"), col("term"), explode(col("postings")).as("p"))
        .select(col("tb"), col("term"), col("p.doc_id").as("doc_id"),
          col("p.tf").as("tf"))
        .join(ids, Seq("doc_id"), "left_anti")
        .groupBy(col("tb"), col("term"))
        .agg(count(lit(1)).as("df"),
          sort_array(collect_list(struct(col("doc_id"), col("tf"))))
            .as("postings"))
        .select(col("term"), col("df"), col("postings"), col("tb"))
      Seq(graft.layout.LayoutTxn.Group("", replacement, "tb", Seq("term"),
        tbTouched.map(b => s"tb=$b")))
    }
    val tombClear = graft.layout.LayoutTxn.Group(TombDir, tombRead.limit(0),
      "tr", Seq("doc_id"), tombParts.map(_._1).distinct)
    graft.layout.LayoutTxn.commit(spark, layoutDir, parent,
      postingsGroup ++ Seq(graft.layout.LayoutTxn.Group(DocMapDir,
        dmSurvivors, "dm", Seq("doc_id"), dmTouched.map(b => s"dm=$b")),
        tombClear))
    ()
  }

  /** RESCALE a [[writeIndexLayout]] directory to a new bucket count (r18
    * — VERDICT r17 task 3, the `OPTIMIZE REBUCKET` analogue at the index
    * tier; the count was a write-time-forever fact before). The corpus is
    * NEVER read: `tb` is a pure function of the stored `term` column and
    * a (tb, term) postings row maps to exactly one bucket under either
    * count, so re-bucketing is a column rewrite — df and postings ride
    * unchanged; the doc store rebuilds from the re-bucketed postings
    * (lens = Σtf are count-independent) with term-less SENTINEL rows
    * carried over under their new `dm`. One LayoutTxn commit moves every
    * partition AND flips the `buckets` layout prop atomically — a reader
    * snapshotting before sees old count + old dirs, after sees new + new,
    * never a mix; a concurrent writer's CAS conflicts loudly; batchId
    * carries so streaming replay protection survives the rescale. Cost is
    * O(index bytes) — the deliberate amortized full rewrite, exactly
    * MergeTable REBUCKET's contract. `_idx_meta` is refreshed after the
    * commit as the legacy copy (the version-state prop is authoritative
    * and wins in every reader). */
  def indexRescaleLayout(spark: org.apache.spark.sql.SparkSession,
                         layoutDir: String, newBuckets: Int,
                         txnGraceMs: Long = 600000L): Long = {
    require(newBuckets >= 1, s"newBuckets must be >= 1, got $newBuckets")
    val parent = graft.layout.LayoutTxn.begin(layoutDir, txnGraceMs)
    val snap = graft.layout.LayoutTxn.snapshot(layoutDir)
    val oldBuckets = snap.props.get("buckets").map(_.toInt)
      .orElse(metaFileBuckets(layoutDir))
      .getOrElse(throw new IllegalStateException(
        s"no persisted bucket count at $layoutDir — not an index layout?"))
    if (oldBuckets == newBuckets) return snap.version
    val oldTb = graft.layout.LayoutTxn.resolveSnapshot(snap, "", "tb")
      .map(_._1)
    val oldDm = graft.layout.LayoutTxn
      .resolveSnapshot(snap, DocMapDir, "dm").map(_._1)
    // pending delete tombstones materialize for free inside the full
    // rewrite (r20 merge-on-read delete): the liveIndex filter drops the
    // victims' postings before re-bucketing, the doc store rebuilds from
    // the filtered postings, sentinel carry-over excludes tombstoned
    // docs, and the runs clear in the SAME atomic commit
    val tombParts = tombRunsOf(snap)
    val tombs = tombViewOf(spark, snap)
    val rebucketed = liveIndex(tombs,
        graft.layout.LayoutTxn.readSnapshot(spark, snap, "", "tb"))
      .withColumn("tb", termBucket(col("term"), newBuckets))
      .transform(graft.util.Cleanup.checkpoint(_))
    val sentinels = liveDocMap(tombs, graft.layout.LayoutTxn
        .readSnapshot(spark, snap, DocMapDir, "dm"))
      .filter(col("tb") === -1L)
      .select(col("doc_id"), col("tb"), col("len"))
      .withColumn("dm", pmod(col("doc_id"), lit(newBuckets.toLong)))
    val newDocMap = docMapOf(rebucketed, newBuckets).unionByName(sentinels)
      .select(col("doc_id"), col("tb"), col("len"), col("dm"))
    val tbTouched = (oldTb ++ (0 until newBuckets).map(b => s"tb=$b"))
      .distinct.sorted
    val dmTouched = (oldDm ++ (0 until newBuckets).map(b => s"dm=$b"))
      .distinct.sorted
    val tombClear =
      if (tombParts.isEmpty) Seq.empty
      else Seq(graft.layout.LayoutTxn.Group(TombDir,
        graft.layout.LayoutTxn.readSnapshot(spark, snap, TombDir, "tr")
          .limit(0),
        "tr", Seq("doc_id"), tombParts.map(_._1).distinct))
    val v = graft.layout.LayoutTxn.commit(spark, layoutDir, parent,
      Seq(graft.layout.LayoutTxn.Group("", rebucketed, "tb", Seq("term"),
          tbTouched),
        graft.layout.LayoutTxn.Group(DocMapDir, newDocMap, "dm",
          Seq("doc_id"), dmTouched)) ++ tombClear,
      props = Map("buckets" -> newBuckets.toString))
    // refresh the legacy write-time copy (best-effort, post-commit: every
    // reader prefers the version-state prop, so a crash between the two
    // writes is benign)
    val pr = new java.util.Properties()
    pr.setProperty("buckets", newBuckets.toString)
    val out = java.nio.file.Files.newOutputStream(
      java.nio.file.Paths.get(layoutDir, IdxMeta))
    try pr.store(out, "graft inverted-index layout parameters")
    finally out.close()
    v
  }

  /** Fold a fragmented index layout — [[graft.layout.LayoutTxn
    * .compactStale]] with this layout's own in-partition sort orders
    * (postings by term, doc store by doc_id). Pending delete tombstones
    * are MATERIALIZED first (r20: the deferred half of the merge-on-read
    * [[indexDeleteLayout]]) in their own commit, so a compacted layout is
    * tombstone-free and its readers return to the raw untouched plans.
    * See compactStale's scaladoc for the owner-count trigger and cost
    * shape. */
  def indexCompactLayout(spark: org.apache.spark.sql.SparkSession,
                         layoutDir: String, maxOwners: Int = 4,
                         txnGraceMs: Long = 600000L): Long = {
    materializeTombstones(spark, layoutDir, txnGraceMs)
    graft.layout.LayoutTxn.compactStale(spark, layoutDir,
      Map("" -> Seq("term"), DocMapDir -> Seq("doc_id")),
      maxOwners, txnGraceMs)
  }

  /** Conjunctive search over a [[writeIndexLayout]] directory: terms →
    * bucket literals (driver-side md5, no data touched) → partition-pruned
    * scan → the same [[searchAll]] postings algebra. */
  def searchIndexLayout(spark: org.apache.spark.sql.SparkSession, dir: String,
                        terms: Seq[String], buckets: Int = LayoutResolvedBuckets): DataFrame = {
    // ONE snapshot supplies the bucket count AND the partition set (r18):
    // reading them separately races a concurrent rescale — a count paired
    // with the other snapshot's dirs probes partitions that don't exist
    val snap = graft.layout.LayoutTxn.snapshot(dir)
    val tbs = terms.map(termBucketJvm(_, bucketsFromSnapshot(snap, buckets)))
      .distinct
    // snapshot-isolated resolve (r15): the query terms' buckets prune
    // the directory list driver-side; each listed dir is immutable, so
    // an index upsert landing mid-search cannot mix two versions here.
    // Pending delete tombstones (r20) apply as a codegen row filter on
    // the exploded postings (searchAll never reads df, so no arithmetic
    // is needed); tombstone-free layouts keep the raw plan.
    val view = tombViewOf(spark, snap)
    val pruned = liveDf(view,
        graft.layout.LayoutTxn.readSnapshot(spark, snap, "", "tb",
          Some(tbs.map(b => s"tb=$b").toSet)))
      .drop("tb")
    searchAll(pruned, terms, liveOcc(view, _))
  }

  /** BM25-RANKED (disjunctive) search against the at-rest index — a
    * production point search that NEVER reads the corpus: the query
    * terms' ≤k `tb=` dirs provide exact df and per-doc tf, the doc store
    * provides each candidate's length and the corpus N/avg-length (one
    * tiny agg over docs×buckets rows, O(documents) not O(bytes), run once
    * per commit — see [[SnapshotFacts]]), and
    * the score is exactly [[bm25]] over the indexed corpus — q202's
    * oracle recomputes it from RAW TEXT and the hashes must match, which
    * proves df/tf/len/N all survive incremental maintenance unchanged.
    * Returns (doc_id, bm25) for every doc containing ≥1 query term. */
  def bm25SearchLayout(spark: org.apache.spark.sql.SparkSession, dir: String,
                       terms: Seq[String], buckets: Int = LayoutResolvedBuckets,
                       k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25SearchLayout needs at least one query term")
    // ONE snapshot for the count, the postings partitions, AND the doc
    // store (r18): a rescale or upsert landing mid-plan cannot mix them
    val snap = graft.layout.LayoutTxn.snapshot(dir)
    val tbs = terms.map(termBucketJvm(_, bucketsFromSnapshot(snap, buckets)))
      .distinct
    // pending delete tombstones (r20) apply to BOTH sides: exact df
    // arithmetic pre-explode + a codegen row filter post-explode on the
    // postings, and the doc store filter that shrinks N/avg-length to the
    // surviving corpus — ONE view computed for all three; tombstone-free
    // layouts keep the raw plans
    val facts = factsOf(spark, snap)
    val tombs = facts.tombs
    val pruned = liveDf(tombs,
      graft.layout.LayoutTxn.readSnapshot(spark, snap, "", "tb",
          Some(tbs.map(x => s"tb=$x").toSet))
        .filter(col("term").isin(terms: _*)))
    val (n, avgLen) = facts.corpusStats
    liveOcc(tombs, pruned.select(col("df").cast("double").as("__df"),
        explode(col("postings")).as("p"))
      .select(col("__df"), col("p.doc_id").as("doc_id"),
        col("p.tf").cast("double").as("__tf")))
      .join(facts.lens, "doc_id")
      .withColumn("__s",
        log(lit(1.0) + (lit(n) - col("__df") + lit(0.5)) / (col("__df") + lit(0.5))) *
          col("__tf") * lit(k1 + 1.0) /
          (col("__tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("len").cast("double") / lit(avgLen))))
      .groupBy(col("doc_id")).agg(sum(col("__s")).as("bm25"))
  }

  /** Conjunctive (AND) search over an [[invertedIndex]]: documents that
    * contain EVERY query term, scored by total tf. The index side is
    * filtered to the |terms| query rows BEFORE the posting lists are
    * exploded — the classic "read only the query terms' postings" access
    * path, an `IN` filter an index-at-rest layout turns into partition
    * pruning. */
  def searchAll(index: DataFrame, terms: Seq[String]): DataFrame =
    searchAll(index, terms, identity)

  /** [[searchAll]] with `occFilter` applied to the exploded (doc_id, tf)
    * occurrences before they aggregate — the hook the layout search
    * drops tombstoned docs through. */
  private def searchAll(index: DataFrame, terms: Seq[String],
                        occFilter: DataFrame => DataFrame): DataFrame =
    occFilter(index.filter(col("term").isin(terms: _*))
        .select(explode(col("postings")).as("p"))
        .select(col("p.doc_id").as("doc_id"), col("p.tf").as("tf")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("tf").as("score"))
      .filter(col("n_terms") === terms.length)
      .select(col("doc_id"), col("score"))

  /** The BPE vocabulary-training inner step: count adjacent symbol pairs
    * across the corpus, weighted by word frequency. Real BPE training
    * iterates this (count -> merge the argmax pair -> recount); the count
    * is the distributed-heavy part — the word-frequency table compresses
    * the corpus first (a 100 TB crawl has a few hundred million DISTINCT
    * words), so the pair explode runs over distinct words, not raw text,
    * and each iteration is two shuffles regardless of corpus size. Symbols
    * here are characters (iteration 0); after a merge the same plan runs
    * over the re-segmented symbol arrays. */
  def bpePairCounts(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(words(text)).as("wrd"))
      .groupBy("wrd").agg(count(lit(1)).as("freq"))
      .filter(length(col("wrd")) >= 2)
      .select(col("freq"), explode(
        expr("transform(sequence(1, length(wrd) - 1), i -> substring(wrd, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(sum("freq").as("score"))

  /** Canary-string contamination scan: exact substring detection of
    * trap/watermark phrases planted in evaluation sets (the GPT-3/PaLM
    * canary protocol) — the exact-match complement to the fuzzy n-gram
    * overlap of `Dedup.contaminationPairs`. A doc containing a canary
    * verbatim is disqualifying evidence regardless of n-gram statistics.
    *
    * Shape: the canary list explodes as a LITERAL array (k rows per doc,
    * no join, no broadcast, no shuffle) and `contains`/`replace`/`locate`
    * run in the scan stage; the plan is a pure projection+filter over the
    * corpus — the cheapest possible 100 TB pass. For canary lists beyond
    * a few dozen, the kernel upgrade is a single Aho-Corasick multi-
    * pattern `Expression` (one text traversal for all patterns) — the
    * `term_counts` precedent.
    *
    * Returns one row per (doc, matched canary): (id, canary, n_hits,
    * first_pos), occurrence count via the length-delta idiom. */
  def canaryScan(docs: DataFrame, idCol: String, text: Column,
                 canaries: Seq[String]): DataFrame = {
    require(canaries.nonEmpty && canaries.forall(_.nonEmpty),
      "canaries must be non-empty strings")
    docs.select(col(idCol), text.as("__t"))
      .withColumn("canary", explode(array(canaries.map(lit): _*)))
      .filter(col("__t").contains(col("canary")))
      .select(col(idCol), col("canary"),
        ((length(col("__t")) - length(expr("replace(__t, canary, '')")))
          / length(col("canary"))).cast("long").as("n_hits"),
        expr("locate(canary, __t)").cast("long").as("first_pos"))
  }

  /** [[canaryScan]] through the Aho–Corasick kernel
    * ([[graft.functions.CanaryHits]]): ONE text traversal matches ALL
    * patterns — the scaling form once the canary list grows past a few
    * dozen, where the per-pattern contains/replace/locate chain walks each
    * document 3·N times. Output is row-for-row identical to [[canaryScan]]
    * (the kernel reproduces the non-overlapping length-delta count and the
    * code-point `locate` position exactly), so both forms check against
    * the SAME oracle SQL. Still a pure scan-stage projection+filter — no
    * join, no shuffle; the automaton is a plan-time constant riding the
    * codegen references array. */
  def canaryScanAC(docs: DataFrame, idCol: String, text: Column,
                   canaries: Seq[String]): DataFrame = {
    require(canaries.nonEmpty && canaries.forall(_.nonEmpty),
      "canaries must be non-empty strings")
    docs
      .select(col(idCol),
        explode(graft.functions.CanaryHits.canaryHits(text, canaries)).as("h"))
      .select(col(idCol),
        element_at(array(canaries.map(lit): _*), col("h.idx") + 1).as("canary"),
        col("h.n_hits").as("n_hits"), col("h.first_pos").as("first_pos"))
  }

  /** Full multi-round BPE vocabulary induction: the iterative closure of
    * [[bpePairCounts]]. Each round counts adjacent symbol pairs over the
    * frequency-weighted word vocabulary, merges the argmax pair (score
    * desc, then pair asc — the deterministic tiebreak) greedily
    * left-to-right in every word, and recounts. Returns the merge table —
    * the artifact a tokenizer trainer actually ships.
    *
    * Scale shape: the corpus compresses to the DISTINCT-word frequency
    * table once (the only corpus-sized pass); every round then runs two
    * vocab-sized steps — a pair-count aggregation and a per-word array
    * rewrite — plus a driver fetch of exactly ONE row (the argmax pair;
    * bounded by construction, the k-means-centroid precedent). The rewrite
    * is a codegen'd `aggregate` HOF over the symbol array; per-round
    * `localCheckpoint` keeps the loop's lineage flat (the
    * connectedComponents discipline, released by Cleanup.drain).
    *
    * Restricted to purely alphabetic words ([a-z]+): real trainers
    * pre-tokenize this way, and it keeps every symbol free of the
    * delimiter characters any serialized representation of the symbol
    * sequence might use.
    *
    * Returns (step, a, b, merged, score), one row per merge round. */
  def bpeLearn(docs: DataFrame, text: Column, rounds: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = docs.select(explode(words(text)).as("wrd"))
      .filter(col("wrd").rlike("^[a-z]+$") && length(col("wrd")) >= 2)
      .groupBy("wrd").agg(count(lit(1)).as("freq"))
    var syms = vocab.select(col("freq"),
        filter(split(col("wrd"), ""), s => s =!= "").as("syms"))
      .transform(graft.util.Cleanup.checkpoint(_))
    val merges = scala.collection.mutable.ListBuffer[(Long, String, String, String, Long)]()
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      // the size guard keeps sequence(1, size-1) ascending (an unguarded
      // sequence(1, 0) generates DESCENDING indices incl. the illegal 0)
      val top = syms.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(
          transform(sequence(lit(1), size(col("syms")) - 1),
            i => struct(element_at(col("syms"), i).as("a"),
              element_at(col("syms"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("score"))
        .orderBy(col("score").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val a = top(0).getString(0)
        val b = top(0).getString(1)
        merges += ((r.toLong, a, b, a + b, top(0).getLong(2)))
        syms = syms.withColumn("syms", mergePairExpr("syms", a, b))
          .transform(graft.util.Cleanup.checkpoint(_))
        r += 1
      }
    }
    merges.toSeq.toDF("step", "a", "b", "merged", "score")
  }

  /** Greedy left-to-right non-overlapping merge of adjacent (a, b) into
    * a+b over a symbol-array column: `pend` carries the previous unmerged
    * symbol; a merge consumes both and resets, so the merged token never
    * re-merges within the same pass. Shared by [[bpeLearn]] (one pass per
    * learned round) and [[bpeApply]] (one pass per shipped merge rule). */
  private def mergePairExpr(arrayCol: String, a: String, b: String): Column = {
    def q(s: String) = s.replace("\\", "\\\\").replace("'", "\\'")
    expr(
      s"""aggregate($arrayCol,
         |  named_struct('out', cast(array() as array<string>),
         |               'pend', cast(null as string)),
         |  (acc, x) -> CASE
         |    WHEN acc.pend IS NULL THEN named_struct('out', acc.out, 'pend', x)
         |    WHEN acc.pend = '${q(a)}' AND x = '${q(b)}'
         |      THEN named_struct('out', array_append(acc.out, '${q(a + b)}'),
         |                        'pend', cast(null as string))
         |    ELSE named_struct('out', array_append(acc.out, acc.pend),
         |                      'pend', x) END,
         |  acc -> CASE WHEN acc.pend IS NULL THEN acc.out
         |              ELSE array_append(acc.out, acc.pend) END)""".stripMargin)
  }

  /** Tokenizer APPLICATION — the encode side of [[bpeLearn]]: apply a
    * shipped, ordered merge table to the corpus and return per-symbol
    * corpus frequencies. This is what running a trained tokenizer over a
    * new corpus looks like as a distributed plan:
    *
    *   corpus → distinct-word frequency rollup (the ONLY corpus-sized
    *   pass; the q130/A13 compression discipline) → ONE native encode
    *   projection ([[graft.functions.BpeEncode]]) that applies the whole
    *   ranked merge table per word → symbol explode + rollup.
    *
    * Two shuffles AND two passes total regardless of merge count or
    * corpus size: the kernel walks each distinct word once, consulting a
    * rank-indexed pair table, so a shipped 30–50k-rule tokenizer costs
    * the same plan shape as a 5-rule one (the original form chained one
    * checkpointed `aggregate`-HOF pass per rule — O(k) passes and O(k)
    * vocab materializations; SearchAndBpeSpec keeps the chained form as
    * the semantics oracle). The merge list is a plan-time constant (like
    * a shipped tokenizer.json); the kernel applies exactly the greedy
    * non-overlapping per-rule pass bpeLearn trains with, so learn→apply
    * round-trips exactly. Vocab rows are (freq, syms) only, never the
    * corpus. */
  def bpeApply(docs: DataFrame, text: Column,
               merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "bpeApply: at least one merge rule")
    val vocab = docs.select(explode(words(text)).as("wrd"))
      .filter(col("wrd").rlike("^[a-z]+$") && length(col("wrd")) >= 2)
      .groupBy("wrd").agg(count(lit(1)).as("freq"))
    vocab.select(
        explode(graft.functions.BpeEncode.bpeEncode(col("wrd"), merges))
          .as("symbol"),
        col("freq"))
      .groupBy("symbol").agg(sum("freq").as("total"))
  }

  /** The original chained-pass encode: one checkpointed `aggregate`-HOF
    * merge pass per rule. Kept as the executable SEMANTICS REFERENCE for
    * [[bpeApply]]'s native kernel (SearchAndBpeSpec asserts the two are
    * identical on a ≥100-rule table) — not a production path: O(k)
    * passes and O(k) vocabulary materializations. */
  private[graft] def bpeApplyChained(docs: DataFrame, text: Column,
      merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "bpeApplyChained: at least one merge rule")
    val vocab = docs.select(explode(words(text)).as("wrd"))
      .filter(col("wrd").rlike("^[a-z]+$") && length(col("wrd")) >= 2)
      .groupBy("wrd").agg(count(lit(1)).as("freq"))
    val syms = merges.foldLeft(
        vocab.select(col("freq"),
          filter(split(col("wrd"), ""), s => s =!= "").as("syms"))) {
      case (df, (a, b)) =>
        graft.util.Cleanup.checkpoint(
          df.withColumn("syms", mergePairExpr("syms", a, b)))
    }
    syms.select(explode(col("syms")).as("symbol"), col("freq"))
      .groupBy("symbol").agg(sum("freq").as("total"))
  }

  /** A deterministic ≥100-rule reference merge table for vocabulary-scale
    * encode (q138): a pure-Scala BPE trained on a fixed embedded
    * word-frequency list with [[bpeLearn]]'s exact algorithm (argmax pair
    * by score desc / a asc / b asc; greedy non-overlapping merge pass per
    * round). Well-formed by construction — every rule's operands are
    * single characters or outputs of strictly earlier rules — which is
    * the shape a shipped tokenizer.json has. Plan-time constant: both the
    * Spark query and the generated oracle SQL derive from this one Seq. */
  lazy val referenceMerges: Seq[(String, String)] = {
    // fixed mini-corpus: common English words, zipf-ish frequencies
    val ws = Seq(
      "the", "and", "that", "have", "for", "not", "with", "this", "from",
      "they", "would", "there", "their", "what", "about", "which", "when",
      "make", "like", "time", "just", "know", "take", "people", "into",
      "year", "your", "good", "some", "could", "them", "other", "than",
      "then", "look", "only", "come", "over", "think", "also", "back",
      "after", "work", "first", "well", "even", "want", "because", "these",
      "give", "most", "table", "query", "value", "group", "merge", "scan",
      "join", "fast", "slow", "small", "large", "sort", "filter", "shuffle",
      "partition", "stream", "batch", "window", "schema", "column", "index")
    val freqs = ws.zipWithIndex.map { case (w, i) => (w, 4000L / (i + 1)) }
    var vocab: Map[Vector[String], Long] =
      freqs.groupBy(_._1).map { case (w, fs) =>
        (w.split("").toVector, fs.map(_._2).sum)
      }
    val merges = Vector.newBuilder[(String, String)]
    var r = 0
    var exhausted = false
    while (r < 120 && !exhausted) {
      val pairCounts = scala.collection.mutable.Map[(String, String), Long]()
      vocab.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          pairCounts(p) = pairCounts.getOrElse(p, 0L) + f
          i += 1
        }
      }
      if (pairCounts.isEmpty) exhausted = true
      else {
        val (a, b) = pairCounts.toSeq
          .sortBy { case ((a, b), c) => (-c, a, b) }.head._1
        merges += ((a, b))
        vocab = vocab.map { case (syms, f) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
              out += (a + b); i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.result(), f)
        }.groupBy(_._1).map { case (s, vs) => (s, vs.map(_._2).sum) }
        r += 1
      }
    }
    val result = merges.result()
    require(result.size >= 100,
      s"referenceMerges: expected >=100 rules, got ${result.size}")
    result
  }

  /** Corpus bigram language-model scoring: train add-one-smoothed bigram
    * probabilities ON the corpus itself, then score every document by its
    * average bigram log-probability — the statistical quality signal
    * (perplexity proxy) pretraining pipelines use alongside the heuristic
    * rules of [[qualityFilter]]: documents whose word transitions are
    * improbable under the corpus-wide model (gibberish, boilerplate
    * word-salad, wrong-language contamination) score low.
    *
    * lp(w1,w2) = ln((count(w1,w2) + 1) / (headcount(w1) + V)).
    *
    * Scale: the model IS two distributed aggregations — bigram counts and
    * head counts shuffle on word keys with map-side partial aggregation, and
    * V (distinct vocabulary) folds in as a 1-row cross join; no vocabulary
    * ever touches the driver (a web-scale corpus has billions of distinct
    * bigrams). Scoring re-joins the doc bigrams to the model on (w1,w2) then
    * w1 — word-keyed sort-merge joins at scale, AQE-broadcast when the model
    * actually fits. Skewed head words (stopwords) are bounded by AQE skew
    * split; the join keys are the aggregation keys, so the shuffle is reused.
    *
    * Determinism (oracle-hash-proof by construction): each per-bigram lp is
    * rounded to 6 decimals (deterministic given ln parity — the q40_tfidf
    * precedent), then summed as DECIMAL(28,6), which is exact and
    * order-independent where a double sum would depend on partition order.
    * Output: (doc_id, n_bigrams, sum_lp, avg_lp). */
  def bigramLmScore(docs: DataFrame, idCol: String, text: Column): DataFrame = {
    val ws = col("__ws")
    val staged = docs.select(col(idCol).as("doc_id"), words(text).as("__ws"))
      .filter(size(ws) >= 2)
    val pairs = staged.select(col("doc_id"), explode(
        transform(sequence(lit(1), size(ws) - 1),
          i => struct(element_at(ws, i).as("w1"), element_at(ws, i + 1).as("w2"))))
        .as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // ONE corpus-sized aggregation; the head count cu(w1) = Σ_w2 cb(w1,w2)
    // is recovered from the DISTINCT-BIGRAM-sized table by a window sum, so
    // the corpus is scanned/exploded once and joined once (r11 — the prior
    // shape scanned+exploded the corpus three times and joined twice; at
    // sf0.1 that was 1.55 s for 0.2 s of real work). The count table is
    // vocabulary²-bounded: AQE broadcasts it when small, falls back to a
    // shuffle join at web scale.
    val bigramCounts = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      .withColumn("cu", sum(col("cb")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))))
    // V over ALL words in the corpus (incl. single-word docs): one distinct
    // agg collapsed to a single row — planned as a trivial broadcast side.
    // (NOT array_distinct-then-explode: ArrayDistinct on string arrays is
    // an O(n²) equality loop — measured 2× slower than the hash-based
    // distinct shuffle on the contamination probe's identical shape.)
    val vocab = docs.select(explode(words(text)).as("wrd")).distinct()
      .agg(count(lit(1)).cast("double").as("__v"))
    val lp6 = round(log((col("cb") + 1).cast("double")
      / (col("cu").cast("double") + col("__v"))), 6)
    pairs.join(bigramCounts, Seq("w1", "w2"))
      .crossJoin(vocab)
      .select(col("doc_id"), lp6.cast(DecimalType(28, 6)).as("__lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("__lp")).cast("double").as("sum_lp"))
      .withColumn("avg_lp",
        floor(col("sum_lp") / col("n_bigrams") * lit(1e6)).cast("double") / lit(1e6))
  }

  /** PMI collocation mining: pointwise mutual information of adjacent word
    * pairs, ln(p(w1,w2) / (p(w1)·p(w2))) with bigram probabilities from the
    * bigram table (N_b total bigrams) and unigram probabilities from the
    * full token stream (N_u total tokens) — the standard collocation score
    * ("strongly associated word pairs") a vocabulary/tokenizer-curation
    * pass reads. ln, not pow: ln has cross-engine parity precedent
    * (q40/q100); floor-truncation to 6 decimals for the float column.
    *
    * Scale: two corpus-token-sized explodes feeding vocabulary-sized aggs;
    * the count joins are vocabulary-keyed (sort-merge at web scale, AQE
    * broadcast when the vocabulary fits); the two grand totals are 1-row
    * aggs folded in as cross joins — no driver-side count action. Rare
    * pairs (count < `minCount`) are dropped AFTER counting, standard for
    * PMI (low counts make the estimate noise). */
  def pmiCollocations(docs: DataFrame, text: Column,
                      minCount: Long = 5): DataFrame = {
    val ws = col("__ws")
    val pairs = docs.select(words(text).as("__ws")).filter(size(ws) >= 2)
      .select(explode(transform(sequence(lit(1), size(ws) - 1),
          i => struct(element_at(ws, i).as("w1"), element_at(ws, i + 1).as("w2"))))
        .as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val uni = docs.select(explode(words(text)).as("w"))
    val cb = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
    val cu = uni.groupBy("w").agg(count(lit(1)).as("cu"))
    val nb = pairs.agg(count(lit(1)).cast("double").as("__nb"))
    val nu = uni.agg(count(lit(1)).cast("double").as("__nu"))
    cb.filter(col("n_pair") >= minCount)
      .join(cu.select(col("w").as("w1"), col("cu").as("__c1")), Seq("w1"))
      .join(cu.select(col("w").as("w2"), col("cu").as("__c2")), Seq("w2"))
      .crossJoin(nb).crossJoin(nu)
      .select(col("w1"), col("w2"), col("n_pair"),
        (floor(log(col("n_pair") * col("__nu") * col("__nu")
            / (col("__nb") * col("__c1") * col("__c2"))) * lit(1e6))
          .cast("double") / lit(1e6)).as("pmi"))
  }

  /** Temperature-scaled training-mixture weights per source (the
    * multilingual/multi-source rebalancing rule, α = 0.5): raw token share
    * p_i = tokens_i / Σ tokens, mixture weight w_i = √p_i / Σ √p_j —
    * upsamples tail sources, downsamples the head. √ (not pow) because
    * sqrt is IEEE-correctly-rounded in every engine while pow(x, 0.5) has
    * no such guarantee — the ln-not-pow portability rule's sibling. Token
    * counts stay exact BIGINTs until the final ratios; floats are
    * floor-truncated to 6 decimals.
    *
    * Scale: one source-keyed agg (map-side partial sums) + two 1-row grand
    * totals folded in as cross joins — nothing driver-sized; sources are
    * few by definition. */
  def mixtureWeights(docs: DataFrame, sourceCol: String,
                     text: Column): DataFrame = {
    def trunc6(c: Column): Column = floor(c * lit(1e6)).cast("double") / lit(1e6)
    val per = docs.select(col(sourceCol), size(words(text)).cast("long").as("__t"))
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("__t")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).cast("double").as("__tot"))
    val share = col("n_tokens").cast("double") / col("__tot")
    val scored = per.crossJoin(tot)
      .withColumn("__sq", sqrt(share))
    // partition-order-independent normalizer: each √share is floor-
    // truncated to 12 decimals and summed as exact BIGINTs (the module's
    // long-math discipline) — a plain double sum's partial-aggregate merge
    // order is nondeterministic in Spark and could flip a trunc6 digit vs
    // the oracle on an accumulation boundary
    val z = scored.agg(sum(floor(col("__sq") * lit(1e12)).cast("long")).as("__zi"))
    scored.crossJoin(z)
      .select(col(sourceCol), col("n_docs"), col("n_tokens"),
        trunc6(share).as("token_share"),
        trunc6(col("__sq") / (col("__zi").cast("double") / lit(1e12))).as("mix_weight"))
  }

  /** Materialize a training-mixture DRAW: [[mixtureWeights]] decides how
    * much each source contributes; this picks the actual documents — a
    * per-source quota (⌊weight·budget⌋, floor 1 so no source vanishes)
    * filled by the first quota docs in a fixed md5 permutation (the
    * q131/q125 determinism recipe: no RNG state, winners invariant to
    * partitioning, stable under corpus growth within a source). The
    * operational step between "computed the mixture" (q123) and "trained
    * on it".
    *
    * Scale: weights are a sources-sized table (broadcast); the draw is ONE
    * source-keyed window exchange ordered by the hash key. Quotas are
    * derived from the 6dp-truncated weights, so both engines compute the
    * identical integers. */
  def mixtureSample(docs: DataFrame, idCol: String, sourceCol: String,
                    text: Column, budget: Int = 200): DataFrame = {
    val wts = mixtureWeights(docs, sourceCol, text)
      .select(col(sourceCol), col("mix_weight"))
      .withColumn("quota",
        greatest(lit(1L), floor(col("mix_weight") * lit(budget.toDouble))
          .cast("long")))
    val keyed = docs.select(col(sourceCol), col(idCol),
      md5(concat(lit("ms0|"), col(idCol).cast("string"))).as("__k"))
    keyed.join(broadcast(wts), Seq(sourceCol))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(sourceCol)).orderBy(col("__k"), col(idCol))))
      // the LITERAL budget bound is what makes this scale: quota ≤ budget
      // by construction (floor(weight·budget) with weight ≤ 1), and a
      // rank ≤ literal conjunct lets Catalyst plan WindowGroupLimit —
      // every map task keeps only its local top-`budget` per source
      // BEFORE the exchange, so the per-source window partition sorts
      // ≤ budget×tasks id-rows however large the source is. With only the
      // column-valued quota predicate the optimizer cannot prune, and one
      // dominant source becomes a single-task sort of its whole id list.
      .where(col("__rn") <= lit(budget.toLong) && col("__rn") <= col("quota"))
      .select(col(sourceCol).as("source"), col("quota"),
        col("__rn").cast("long").as("pick_rank"), col(idCol))
  }

  /** Sequence-packing map, concat-and-chunk style (the GPT-pretraining
    * packing rule: concatenate the token stream in a fixed document order,
    * cut every `ctx` tokens): each doc's global token offset via an exact
    * BIGINT running sum, from which its first/last context-window ids and
    * span count are integer division — the shuffle-free way to answer
    * "which training sequences does doc X land in" and "how many docs does
    * sequence k splice together". Empty docs are excluded (they occupy no
    * tokens, and first_bin on a 0-length span is ill-defined).
    *
    * Scale note: the running sum is a single unpartitioned window — fine
    * for a manifest-sized doc list, the known bottleneck for a full corpus;
    * at 100 TB the same map is computed per SHARD (q53's deterministic
    * shards) with a per-shard offset, keeping every window partition
    * bounded. The window carries ONLY (doc_id, n_tokens) — never text. */
  def packingMap(docs: DataFrame, idCol: String, text: Column,
                 ctx: Int): DataFrame = {
    val w = Window.orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col(idCol), size(words(text)).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("end_off", sum(col("n_tokens")).over(w))
      .select(col(idCol), col("n_tokens"),
        (col("end_off") - col("n_tokens")).as("start_off"),
        floor((col("end_off") - col("n_tokens")) / ctx).cast("long").as("first_bin"),
        floor((col("end_off") - 1) / ctx).cast("long").as("last_bin"))
      .withColumn("n_bins", col("last_bin") - col("first_bin") + 1L)
  }

  /** Boilerplate token pruning with text RECONSTRUCTION: drop every token
    * whose corpus document-frequency ratio exceeds `maxDfRatio` (tokens in
    * "almost every document" are boilerplate/stopword noise that dilutes
    * dedup signatures and wastes training tokens), then rebuild each
    * document's text from the surviving tokens in original order — the
    * cleaning step that WRITES a new corpus, not just a filter flag.
    *
    * Scale: df comes from the row-local [[graft.functions.TermCounts]]
    * kernel (map_keys → explode → one token-keyed agg — no distinct
    * shuffle). The boilerplate vocabulary itself is then PROVABLY tiny:
    * a token needs df > maxDfRatio·N docs, and total distinct-token
    * slots are ≤ N·avgDocLen, so at most avgDocLen/maxDfRatio distinct
    * tokens can qualify — a corpus-size-INDEPENDENT bound (~1.3k tokens
    * for 1k-word docs at ratio 0.77, at 100 TB exactly as at sf0.1).
    * That makes the driver collect of the boilerplate set bounded state
    * (the same argument as centroids/codebooks), and the rebuild becomes
    * ROW-LOCAL: one scan filtering each doc's word array against an
    * InSet literal — original token order preserved for free, zero
    * regroup exchange. The previous posexplode → df-join →
    * collect_list(struct(pos,w)) regroup did the same thing through two
    * corpus-sized shuffles and a per-doc sort (the q161 remove_spans
    * lesson applied: rebuild rows locally, never via explode+regroup).
    * Docs whose every token is boilerplate survive with empty text,
    * never silently dropped; null text behaves as empty. */
  def pruneBoilerplateTokens(docs: DataFrame, idCol: String, text: Column,
                             maxDfRatio: Double): DataFrame = {
    val n = docs.count()
    val boiler = docs
      .select(explode(map_keys(graft.functions.TextFunctions.termCounts(text)))
        .as("w"))
      .groupBy("w").agg(count(lit(1)).as("__df"))
      .filter(col("__df").cast("double") / lit(n.toDouble) > maxDfRatio)
      .collect().map(_.getString(0)).toSet
    val ws = coalesce(words(text), array().cast("array<string>"))
    val kept = if (boiler.isEmpty) ws
      else filter(ws, w => !w.isInCollection(boiler))
    docs.select(col(idCol),
        size(ws).cast("long").as("__nw"), kept.as("__kept"))
      .select(col(idCol),
        array_join(col("__kept"), " ").as("clean_text"),
        size(col("__kept")).cast("long").as("n_kept"),
        (col("__nw") - size(col("__kept")).cast("long")).as("n_dropped"))
  }

  /** Gopher/C4-style quality filter: rule columns + a keep flag. Each rule
    * is a named boolean; the reasons array makes the filter auditable
    * (standard practice when a pipeline must explain *why* a document was
    * dropped). All built-ins — the filter runs in the scan's codegen stage. */
  def qualityFilter(df: DataFrame, text: Column,
                    minWords: Int = 5, maxWords: Int = 100000,
                    maxMeanWordLen: Double = 12.0,
                    minStopRatio: Double = 0.0): DataFrame = {
    // stage the split once: every rule below reuses the materialized array
    // instead of re-tokenizing (a row-width tradeoff that wins whenever
    // ≥2 expressions consume the words)
    val staged = df.withColumn("__ws", words(text))
    val ws = col("__ws")
    val nWords = size(ws).cast("long")
    val meanLen = when(nWords > 0,
      aggregate(ws, lit(0L), (a, w) => a + length(w).cast("long")).cast("double")
        / nWords.cast("double")).otherwise(lit(0.0))
    val stop = Seq("the", "a", "of", "and", "to", "in")
    val stopRatio = when(nWords > 0,
      size(filter(ws, w => w.isInCollection(stop))).cast("double") / nWords.cast("double"))
      .otherwise(lit(0.0))
    val rules = Seq(
      "too_short" -> (nWords < minWords),
      "too_long" -> (nWords > maxWords),
      "words_too_long" -> (meanLen > maxMeanWordLen),
      "low_stopwords" -> (stopRatio < minStopRatio))
    val reasons = array_compact(array(rules.map { case (name, cond) =>
      when(cond, lit(name)).otherwise(lit(null).cast("string")) }: _*))
    staged.withColumn("n_words_f", nWords)
      .withColumn("reasons", reasons)
      .withColumn("keep", size(reasons) === 0)
      .drop("__ws")
  }

  /** Within-document repetition: distinct-to-total ratio of word k-grams —
    * near-0 for highly repetitive docs, 1.0 for no repeated k-gram
    * (C4/Gopher "duplicate n-gram fraction" family). Native codegen kernel
    * ([[graft.functions.RepetitionRatio]]): one fused loop per row instead
    * of interpreted transform/slice/array_join/array_distinct lambda frames
    * — the bench showed the HOF formulation ~10× over the oracle engine. */
  def repetitionRatio(text: Column, k: Int = 3): Column =
    graft.functions.TextFunctions.repetitionRatio(text, k)

  /** Portable built-ins-only reference implementation of
    * [[repetitionRatio]] (no custom kernel — runs on any stock Spark).
    * DataFrame-level (not a bare Column) so the grams array is STAGED once
    * in its own projection — the same `__`-staging trick as [[qualityFilter]].
    * A single Column expression would reference the grams subtree three
    * times (`size`, `array_distinct`, `size` again) and Spark does not CSE
    * interpreted higher-order-function trees, so every copy would re-run
    * `transform(sequence)+slice+array_join` over the whole document.
    * Kept as the cross-check oracle for the native kernel (parity spec). */
  def repetitionRatioHof(df: DataFrame, text: Column, k: Int = 3,
                         out: String = "distinct_ratio"): DataFrame = {
    val ws = words(text)
    val n = size(ws)
    val gramsExpr = when(n >= k, transform(sequence(lit(1), n - (k - 1)),
        i => array_join(slice(ws, i, lit(k)), " ")))
      .otherwise(array().cast("array<string>"))
    val g = col("__grams")
    df.withColumn("__grams", gramsExpr)
      .withColumn(out,
        when(size(g) > 0,
          round(size(array_distinct(g)).cast("double") / size(g).cast("double"), 6))
        .otherwise(lit(1.0)))
      .drop("__grams")
  }

  /** Sliding-window document chunking — the retrieval/embedding
    * preparation step: split each document into `chunkTokens`-token
    * windows advancing by `stride` tokens (overlap = chunkTokens - stride
    * keeps context across boundaries), emitting one row per chunk with
    * its token offset — the unit a RAG pipeline embeds and indexes.
    * Entirely row-local work (staged word array → `sequence` of starts →
    * posexplode + slice/join): chunking is scan-stage codegen, the only
    * shuffle is whatever the consumer does next. Starts advance by
    * `stride` over the WHOLE token range, so every token is covered;
    * trailing windows run short (their `n_tokens` says how short).
    * Empty docs produce no chunks. Chunk ids are (doc, 0-based window
    * index) — deterministic, no RNG, no row_number over a global order. */
  def chunkForEmbedding(docs: DataFrame, idCol: String, text: Column,
                        chunkTokens: Int = 50, stride: Int = 40): DataFrame = {
    val ws = col("__ws")
    val n = size(ws)
    val starts = when(n >= 1, sequence(lit(1), n, lit(stride)))
      .otherwise(array().cast("array<int>"))
    docs.select(col(idCol), words(text).as("__ws"))
      .select(col(idCol), ws,
        posexplode(starts).as(Seq("chunk_id", "start_tok")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        col("start_tok").cast("long").as("start_tok"),
        least(lit(chunkTokens), size(ws) - col("start_tok") + 1).cast("long")
          .as("n_tokens"),
        array_join(slice(ws, col("start_tok"), lit(chunkTokens)), " ")
          .as("chunk_text"))
  }

  /** Content fingerprint: md5 of the normalized text (lowercase, trimmed,
    * runs of whitespace collapsed). Two docs share a fingerprint iff they
    * are exact duplicates post-normalization — the cheap first dedup tier. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** The normalization every fingerprint tier shares: null-safe lowercase,
    * trimmed, whitespace runs collapsed to one space. */
  def normalized(text: Column): Column =
    lower(trim(regexp_replace(coalesce(text, lit("")), "\\s+", " ")))

  /** PII patterns for training-corpus redaction. Deliberately RE2-safe (no
    * lookaround, no backreferences) so Java regex (Spark) and RE2-family
    * engines (the DuckDB oracle) compile them with identical semantics —
    * a lookbehind here would silently diverge between engines. */
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val PhoneRe = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"

  /** PII redaction for training corpora: emails then phone-number-like
    * runs replaced by typed placeholder tokens (typed, not blanked, so a
    * model sees "<EMAIL>" as a category instead of a hole, and audits can
    * count redactions downstream). Plain codegen'd `regexp_replace` —
    * scales like any scan-side projection; at 100 TB the regex cost is
    * embarrassingly parallel and pipelined with the read. */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"),
      PhoneRe, "<PHONE>")

  /** Winnowing fingerprints (rolling-hash document fingerprinting,
    * Schleimer et al. SIGMOD'03): sorted distinct set of the per-window
    * minimum Rabin-Karp char-`k`-gram hashes of the normalized text.
    * Native codegen kernel ([[graft.functions.WinnowFingerprints]]) — one
    * fused O(n) pass per row: the hash ROLLS (O(1) per gram) and the
    * window minimum is a monotonic deque (O(1) amortized), where built-in
    * expressions would re-hash every gram from scratch and re-scan every
    * window. Sharing a fingerprint ⇔ sharing a verbatim `k`-char run, the
    * candidate signal [[graft.dedup.Dedup.winnowingCandidates]] joins on. */
  def winnowFingerprints(text: Column, k: Int = 8, w: Int = 4): Column =
    graft.functions.TextFunctions.winnowFps(normalized(text), k, w)

  /** Portable built-ins-only reference implementation of
    * [[winnowFingerprints]] (no custom kernel — runs on any stock Spark),
    * kept as the cross-check oracle for the native kernel (parity spec).
    * DataFrame-level so the char and gram-hash arrays are STAGED in their
    * own projections (`__cs`, `__grams`) — the `qualityFilter` trick: a
    * single Column expression would re-run the O(n·k) gram hashing once
    * per window reference, and Spark does not CSE interpreted
    * higher-order-function trees. O(n·k) + O(g·w) per row vs the kernel's
    * O(n) — correct everywhere, hot-path-worthy nowhere. */
  def winnowFingerprintsHof(df: DataFrame, text: Column, k: Int = 8,
                            w: Int = 4, out: String = "fps"): DataFrame = {
    val B = 131L
    val P = 1000000007L
    val cs = col("__cs")
    val g = col("__grams")
    val gramHash = (i: Column) =>
      aggregate(slice(cs, i, lit(k)), lit(0L), (h, c) => (h * B + ascii(c)) % P)
    val mins = transform(
      sequence(lit(1), greatest(size(g) - (w - 1), lit(1))),
      i => array_min(slice(g, i, lit(w))))
    df.withColumn("__cs", split(normalized(text), ""))
      .withColumn("__grams",
        when(size(cs) >= k,
          transform(sequence(lit(1), size(cs) - (k - 1)), gramHash))
          .otherwise(array().cast("array<long>")))
      .withColumn(out,
        when(size(g) === 0, array().cast("array<long>"))
          .otherwise(array_sort(array_distinct(mins))))
      .drop("__cs", "__grams")
  }

  /** Word n-gram list (space-joined), empty array when the doc is shorter
    * than `n` words. Native fused-loop kernel
    * ([[graft.functions.WordGrams]]) — row-local, scan-stage codegen. */
  private def wordGrams(text: Column, n: Int): Column =
    graft.functions.GramFunctions.wordGrams(text, n)

  /** Portable built-ins-only reference for [[wordGrams]] (no custom
    * kernel): the interpreted transform/slice/array_join chain the kernel
    * fuses. Kept as the cross-check for the parity spec. */
  private[text] def wordGramsHof(text: Column, n: Int): Column = {
    val ws = words(text)
    when(size(ws) >= n,
      transform(sequence(lit(1), size(ws) - (n - 1)),
        i => array_join(slice(ws, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** Corpus drift monitor: pairwise Jensen–Shannon divergence (in nats)
    * between the unigram term distributions of every pair of `sourceCol`
    * slices — the distribution-shift readout a training pipeline runs
    * between snapshots/sources before mixing them (0 = identical mixes,
    * ln 2 ≈ 0.693 = disjoint vocabularies). JSD over KL because it is
    * symmetric and finite even when a word is missing from one side.
    *
    * Shape at 100 TB: ONE exchange on (source, word) builds the counts
    * with map-side partial aggregation; a second on the word alone packs
    * each word's per-source counts into a bounded map (source cardinality
    * is small — the thing that is NOT bounded is the vocabulary, which
    * stays distributed end to end); every pair's per-word JSD term is then
    * row-local arithmetic on that map, and the only driver-side data is
    * the per-source total counts (a handful of exact longs, the
    * ivfCentroids discipline). Determinism is the q100 recipe: each
    * per-word term is rounded to 6 decimals, summed EXACTLY as
    * DECIMAL(28,6) (order-independent), and only the final JSD is
    * floor-truncated back to a double. */
  def driftJsd(docs: DataFrame, sourceCol: String, text: Column): DataFrame = {
    // the ONLY corpus-sized pass: (source, word) counts, one exchange with
    // map-side partial aggregation. Everything below operates on the
    // compressed counts table (vocab × sources rows), so it is
    // checkpointed at its fan-out (totals + pair-universe + two probe
    // sides) — the q76 discipline.
    val csw = docs.select(col(sourceCol).as("s"), explode(words(text)).as("w"))
      .groupBy(col("s"), col("w")).agg(count(lit(1)).as("c"))
      .transform(graft.util.Cleanup.checkpoint(_))
    val t = csw.groupBy(col("s")).agg(sum(col("c")).cast("double").as("n"))
    val pairs = t.select(col("s").as("sa"), col("n").as("na"))
      .join(t.select(col("s").as("sb"), col("n").as("nb")), col("sa") < col("sb"))
    // each pair's word universe: words present in EITHER side (a word in
    // neither contributes exactly 0, so it can be skipped losslessly)
    val u = pairs.join(csw.select(col("s"), col("w")),
        col("s") === col("sa") || col("s") === col("sb"))
      .select(col("sa"), col("sb"), col("na"), col("nb"), col("w")).distinct()
    val ca = csw.select(col("s").as("sa"), col("w"), col("c").as("ca"))
    val cb = csw.select(col("s").as("sb"), col("w"), col("c").as("cb"))
    val j = u.join(ca, Seq("sa", "w"), "left").join(cb, Seq("sb", "w"), "left")
    val pp = coalesce(col("ca"), lit(0L)).cast("double") / col("na")
    val qq = coalesce(col("cb"), lit(0L)).cast("double") / col("nb")
    val mid = (pp + qq) / lit(2.0)
    val term = (when(pp > 0, pp * log(pp / mid)).otherwise(lit(0.0)) +
      when(qq > 0, qq * log(qq / mid)).otherwise(lit(0.0))) * lit(0.5)
    j.select(col("sa").as("source_a"), col("sb").as("source_b"),
        round(term, 6).cast(DecimalType(28, 6)).as("t"))
      .groupBy(col("source_a"), col("source_b"))
      .agg((floor(sum(col("t")).cast("double") * lit(1e6)).cast("double") / lit(1e6))
        .as("jsd"))
  }

  /** Model-based quality classification (the CCNet/RefinedWeb recipe): a
    * multinomial Naive-Bayes log-odds scorer TRAINED ON THE CORPUS ITSELF
    * against a cheap binary target (here: `targetCol`), then applied back
    * to every document — the fastText-classifier stage of a training-data
    * pipeline, linear-model form (per-word log-odds weights, add-one
    * smoothing, class prior).
    *
    * Determinism is the q100 discipline end to end: every per-word weight
    * is ln(...) rounded to 6 decimals and summed as exact DECIMAL(28,6),
    * so document scores are order-independent and bit-identical across
    * engines; the classification bit compares the exact decimal sum
    * against zero (no float threshold).
    *
    * Scale: ONE corpus-token pass builds the class-conditional counts
    * (vocab-sized, checkpointed at its fan-out: grand totals + the apply
    * join); the apply side joins tokens to weights VOCAB-KEYED (sort-merge
    * at web scale, AQE broadcast when the vocabulary fits an executor);
    * the two grand totals are 1-row aggs folded in as broadcast cross
    * joins. Training and scoring are the same two shuffles any tf-idf
    * pass costs — no driver-side model materialization. */
  def nbQualityScore(docs: DataFrame, idCol: String, text: Column,
                     targetCol: Column): DataFrame = {
    val staged = docs.select(col(idCol).as("doc_id"), targetCol.as("__pos"),
      words(text).as("__ws"))
    val toks = staged.select(col("doc_id"), col("__pos"),
      explode(col("__ws")).as("w"))
    val cw = toks.groupBy(col("w")).agg(
        sum(when(col("__pos"), 1L).otherwise(0L)).as("cp"),
        sum(when(!col("__pos"), 1L).otherwise(0L)).as("cn"))
      .transform(graft.util.Cleanup.checkpoint(_))
    val tot = cw.agg(sum(col("cp")).cast("double").as("tp"),
      sum(col("cn")).cast("double").as("tn"),
      count(lit(1)).cast("double").as("v"))
    val prior = staged.agg(
      round(log(sum(when(col("__pos"), 1L).otherwise(0L)).cast("double")
        / sum(when(!col("__pos"), 1L).otherwise(0L)).cast("double")), 6)
        .cast(DecimalType(28, 6)).as("__prior"))
    val w6 = round(
      log((col("cp") + 1).cast("double") / (col("tp") + col("v"))) -
      log((col("cn") + 1).cast("double") / (col("tn") + col("v"))), 6)
    val weights = cw.crossJoin(tot)
      .select(col("w"), w6.cast(DecimalType(28, 6)).as("__wt"))
    toks.join(weights, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("__wt")).as("__s"))
      .crossJoin(prior)
      .select(col("doc_id"), col("n_terms"),
        (floor((col("__s") + col("__prior")).cast("double") * lit(1e4))
          .cast("double") / lit(1e4)).as("score"),
        ((col("__s") + col("__prior")) > 0).as("is_quality"))
  }

  /** Vocabulary-overlap readout between corpus sources via KMV/theta
    * sketches, GATED against the exact answer (the q136 pattern): per
    * source pair, the exact distinct-word counts (|A|, |B|, |A∪B|, |A∩B|)
    * plus booleans asserting the SKETCH estimates land within tolerance.
    *
    * Why this exists: HLL (`approx_count_distinct`) answers "how many
    * distinct" but cannot intersect two sketches; the KMV min-hash array
    * ([[graft.functions.KmvMins]]) supports full set ALGEBRA — union by
    * merge+truncate, intersection via the Jaccard share of the union
    * sketch (Beyer et al., SIGMOD'07). At 100 TB the production path is
    * sketches only: one corpus pass builds a k-long array per source
    * (mergeable partial+final agg), and every pairwise overlap after that
    * is array math on driver-negligible rows — no re-scan, no word-level
    * self-join. The exact side here is the verification harness, feasible
    * only because the test corpus is small.
    *
    * Estimator: with U_k = the k smallest of A∪B's hashes (merge of the
    * two arrays), est|A∪B| = (k-1)/u_k; ρ = |U_k ∩ A ∩ B| / |U_k|;
    * est|A∩B| = ρ · est|A∪B|. Both exact when a pair's union carries
    * fewer than k distinct words. */
  def vocabOverlapKmv(docs: DataFrame, sourceCol: String, text: Column,
                      k: Int = 256, relTol: Double = 0.2): DataFrame = {
    graft.functions.KmvFunctions.ensureRegistered(docs.sparkSession)
    // the ONLY corpus-sized pass: distinct (source, word), one exchange;
    // sketch + exact count come out of the same compressed table, which is
    // checkpointed at its fan-out (sketch agg + exact intersection probe
    // sides) — the q76 discipline
    val dw = docs.select(col(sourceCol).as("g"), explode(words(text)).as("w"))
      .distinct()
      .transform(graft.util.Cleanup.checkpoint(_))
    val sk = dw.groupBy(col("g"))
      .agg(expr(s"kmv_mins(w, $k)").as("mins"), count(lit(1)).as("nd"))
    // exact pair intersection: word-keyed equi-join of the distinct table
    // with itself (a < b halves the pairs); union = |A|+|B|-|A∩B|
    val inter = dw.as("x").join(dw.as("y"),
        col("x.w") === col("y.w") && col("x.g") < col("y.g"))
      .groupBy(col("x.g").as("ga"), col("y.g").as("gb"))
      .agg(count(lit(1)).as("n_inter"))
    val pairs = sk.select(col("g").as("ga"), col("mins").as("ma"), col("nd").as("na"))
      .join(sk.select(col("g").as("gb"), col("mins").as("mb"), col("nd").as("nb")),
        col("ga") < col("gb"))
      .join(inter, Seq("ga", "gb"), "left")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
    // union sketch: merge the two sorted arrays, keep the k smallest
    val u = slice(array_sort(array_union(col("ma"), col("mb"))), 1, k)
    val kd = lit(9.223372036854775807e18) // Long.MaxValue as double (hash ceiling)
    val estU = when(size(u) < k, size(u).cast("long"))
      .otherwise(round(lit(k - 1) / (element_at(u, k).cast("double") / kd)).cast("long"))
    val rho = size(array_intersect(array_intersect(u, col("ma")), col("mb")))
      .cast("double") / size(u).cast("double")
    val estI = round(rho * estU.cast("double")).cast("long")
    val nUnion = col("na") + col("nb") - col("n_inter")
    pairs.select(col("ga").as("source_a"), col("gb").as("source_b"),
      col("na").as("n_a"), col("nb").as("n_b"),
      nUnion.as("n_union"), col("n_inter"),
      // union estimator: 3σ ≈ 3/√k relative; intersection adds ρ-sampling
      // noise ~√(ρ(1-ρ)/k) of the UNION size on top
      (abs(estU - nUnion).cast("double") <= lit(relTol) * nUnion.cast("double"))
        .as("union_ok"),
      (abs(estI - col("n_inter")).cast("double") <=
        lit(relTol) * col("n_inter").cast("double")
          + lit(0.1) * nUnion.cast("double")).as("inter_ok"))
  }

  /** Gopher-style top-n-gram dominance (Rae et al. 2021 §A1.1, "fraction
    * of characters in the most frequent n-gram"): per document, the single
    * most frequent word `n`-gram, the share of the document's characters
    * its occurrences cover, and the share of n-gram OCCURRENCES whose gram
    * repeats within the doc. The top gram is a WITHIN-document notion, so
    * at 100 TB it must stay scan-stage work: the
    * [[graft.functions.GramDominance]] kernel folds split → gram → count →
    * argmax into one codegen'd loop per row — the whole operator is
    * SHUFFLE-FREE (the naive shape, explode + groupBy(doc, gram) +
    * groupBy(doc), exchanges the full gram stream twice; see
    * [[topGramDominanceAgg]], kept as the parity reference). Tie → binary
    * lexicographically-greatest gram, the same total order as
    * `ORDER BY cnt DESC, gram DESC LIMIT 1`. Docs with < n words keep a
    * row: NULL gram, zero counts, 0.0 fractions. Char-coverage denominator
    * = the single-space rejoined word text, so leading/trailing/double
    * spaces never skew it. */
  def topGramDominance(docs: DataFrame, idCol: String, text: Column,
                       n: Int = 2): DataFrame = {
    // stage the struct in its own projection: CollapseProject treats the
    // kernel as non-cheap, so the five field references below share ONE
    // evaluation per row instead of five
    val g = col("__g")
    docs.select(col(idCol),
        graft.functions.GramFunctions.gramDominance(text, n).as("__g"))
      .select(col(idCol),
        g.getField("top_gram").as("top_gram"),
        g.getField("top_cnt").as("top_cnt"),
        when(g.getField("total_chars") > 0 && g.getField("top_gram").isNotNull,
          round(g.getField("top_cnt") * length(g.getField("top_gram"))
            / g.getField("total_chars").cast("double"), 6))
          .otherwise(lit(0.0)).as("top_frac"),
        when(g.getField("n_grams") > 0,
          round(g.getField("dup_occ") / g.getField("n_grams").cast("double"), 6))
          .otherwise(lit(0.0)).as("dup_frac"))
  }

  /** Portable aggregation formulation of [[topGramDominance]] (no custom
    * kernel — runs on any stock Spark): explode grams, ONE exchange on
    * (doc, gram) with map-side partial counts, then a partial-aggregatable
    * groupBy(doc) where `max(struct(cnt, gram))` picks the winner under
    * the identical total order. Kept as the cross-check for the parity
    * spec — and as the honest cost statement of what the kernel saves. */
  private[text] def topGramDominanceAgg(docs: DataFrame, idCol: String,
                                        text: Column, n: Int = 2): DataFrame = {
    val base = docs.select(col(idCol),
      explode_outer(wordGramsHof(text, n)).as("gram"),
      length(array_join(words(text), " ")).as("total_chars"))
    val counts = base.groupBy(col(idCol), col("gram"))
      .agg(count(col("gram")).as("cnt"), first(col("total_chars")).as("tc"))
    counts.groupBy(col(idCol))
      .agg(
        max(when(col("gram").isNotNull, struct(col("cnt"), col("gram")))).as("top"),
        sum(when(col("gram").isNotNull, col("cnt")).otherwise(lit(0L))).as("n_grams"),
        sum(when(col("gram").isNotNull && col("cnt") > 1, col("cnt"))
          .otherwise(lit(0L))).as("dup_occ"),
        first(col("tc")).as("total_chars"))
      .select(col(idCol),
        col("top.gram").as("top_gram"),
        coalesce(col("top.cnt"), lit(0L)).as("top_cnt"),
        when(col("total_chars") > 0 && col("top").isNotNull,
          round(col("top.cnt") * length(col("top.gram"))
            / col("total_chars").cast("double"), 6))
          .otherwise(lit(0.0)).as("top_frac"),
        when(col("n_grams") > 0,
          round(col("dup_occ") / col("n_grams").cast("double"), 6))
          .otherwise(lit(0.0)).as("dup_frac"))
  }

  /** Cross-document duplicated-span fraction — the corpus-internal signal
    * behind exact-substring train-set dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better": spans
    * repeated verbatim across documents are memorization fuel). For every
    * word `k`-gram position in every doc, is that exact span present in at
    * least `minDocs` DISTINCT documents? Output per doc: span count,
    * duplicated-span count, fraction.
    *
    * Shape at 100 TB: grams explode in the scan stage (no shuffle);
    * distinct (gram, doc) pairs then gram→doc-count is one exchange keyed
    * on the gram with partial aggregation on both levels; the dup-gram
    * set joins back to the occurrence stream as a shuffle-hash equi-join
    * on the gram (both sides huge → never broadcast), and the final
    * per-doc rollup re-keys on the doc id. The gram string itself is the
    * shuffle key — at production scale you'd xxhash64 it first to cut
    * exchange width; kept verbatim here so the DuckDB oracle can replay
    * the join losslessly. Docs shorter than k words keep a row (0, 0, 0.0). */
  def dupSpanFraction(docs: DataFrame, idCol: String, text: Column,
                      k: Int = 5, minDocs: Int = 2): DataFrame = {
    val occ = docs.select(col(idCol),
      explode_outer(wordGrams(text, k)).as("gram"))
    val flagged =
      if (minDocs == 2) {
        // "present in ≥2 DISTINCT docs" ⇔ min(doc) ≠ max(doc) over the
        // gram — so ONE window exchange on the gram flags every
        // occurrence in place. The general formulation below shuffles the
        // occurrence stream twice more (a (gram, doc) distinct and the
        // dup-set join-back); at 16× this cut the probe 13.0 s → 3.7 s.
        val w = Window.partitionBy(col("gram"))
        occ.withColumn("is_dup",
          col("gram").isNotNull &&
            (min(col(idCol)).over(w) =!= max(col(idCol)).over(w)))
      } else {
        // minDocs > 2 needs the true distinct-doc count per gram
        val dupGrams = occ.where(col("gram").isNotNull)
          .select(col("gram"), col(idCol)).distinct()
          .groupBy(col("gram")).agg(count(lit(1)).as("nd"))
          .where(col("nd") >= minDocs)
          .select(col("gram"), lit(true).as("dg"))
        occ.join(dupGrams, Seq("gram"), "left")
          .withColumn("is_dup", coalesce(col("dg"), lit(false)))
      }
    flagged.groupBy(col(idCol))
      .agg(
        count(col("gram")).as("n_spans"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("dup_spans"))
      .select(col(idCol), col("n_spans"), col("dup_spans"),
        when(col("n_spans") > 0,
          round(col("dup_spans") / col("n_spans").cast("double"), 6))
          .otherwise(lit(0.0)).as("dup_span_frac"))
  }

  /** Distinctive terms per corpus slice (c-TF-IDF, the BERTopic labeling
    * recipe): score(w, s) = (tf_ws / tokens_s) · ln(S / sdf_w) — a word
    * scores high in a source when it is frequent THERE and present in few
    * OTHER sources. The human-readable companion to [[driftJsd]]: JSD says
    * HOW MUCH two slices diverge, this says WHICH words carry it.
    *
    * Determinism: tf/tokens and ln(S/sdf) are single IEEE ops over exact
    * integers, their product one more — bit-identical in any engine; the
    * top-k tie-break is (score DESC, word) with scores compared at full
    * precision, then truncated to 6dp only for display.
    *
    * Scale: one (source, word) count exchange with map-side partials
    * carries everything — source totals, source-df, and the per-source
    * top-k (a bounded window over source-keyed data) all derive from that
    * vocab-sized table; two 1-row-per-source / per-word rollups join back
    * vocab-keyed, never broadcast of anything unbounded. */
  def cTfIdf(docs: DataFrame, sourceCol: String, text: Column,
             k: Int = 10): DataFrame = {
    val csw = docs.select(col(sourceCol).as("s"), explode(words(text)).as("w"))
      .groupBy(col("s"), col("w")).agg(count(lit(1)).as("tf"))
      .transform(graft.util.Cleanup.checkpoint(_))
    val totals = csw.groupBy(col("s")).agg(sum(col("tf")).as("tokens"))
    val sdf = csw.groupBy(col("w")).agg(count(lit(1)).as("sdf"))
    val nSources = csw.select(col("s")).distinct()
      .agg(count(lit(1)).as("n_sources"))
    val score = (col("tf").cast("double") / col("tokens").cast("double")) *
      log(col("n_sources").cast("double") / col("sdf").cast("double"))
    val ranked = csw.join(totals, Seq("s")).join(sdf, Seq("w"))
      .crossJoin(broadcast(nSources))
      .withColumn("__score", score)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("s")).orderBy(col("__score").desc, col("w"))))
      .where(col("__rn") <= k)
    ranked.select(col("s").as("source"), col("__rn").cast("long").as("rank"),
      col("w").as("term"), col("tf"), col("sdf"),
      (floor(col("__score") * lit(1e6)).cast("double") / lit(1e6)).as("score"))
  }

  /** Character- and word-level Shannon entropy per document — the
    * gibberish/degenerate-text filter (low char entropy = repeated
    * characters or tiny alphabets; low word entropy = the same tokens over
    * and over; both pass length/punctuation quality checks that q26-style
    * heuristics read). Spaces are excluded from the char distribution so
    * the score reflects the alphabet, not the token count.
    *
    * Determinism is the q152 recipe: each distinct symbol's p·ln(p) term
    * is rounded to 6dp and summed as exact DECIMAL(28,6) (order-free),
    * the final entropy floor-truncated.
    *
    * The whole computation is ONE SCAN-STAGE PROJECTION: the fused
    * [[graft.functions.EntropyProfile]] kernel counts both symbol
    * alphabets and folds the exact decimal terms in one codegen'd text
    * traversal per document — no explode, no aggregation, no window, NO
    * EXCHANGE of any kind. The r13 1024×-tier spill knee (~2M docs/host:
    * first the doc-keyed window sort, then the (doc,symbol) hash-agg
    * fallback sort once the window was removed) structurally cannot
    * exist — at any corpus size this is embarrassingly parallel map
    * work. [[entropyProfileExchange]] keeps the portable exchange-based
    * formulation as the parity reference (EntropyKernelSpec proves them
    * row-identical; the shared DuckDB oracle pins both). */
  def entropyProfile(docs: DataFrame, idCol: String, text: Column,
                     minCharEntropy: Double = 2.0): DataFrame = {
    val prof = org.apache.spark.sql.graftbridge.Bridge.columnOf(
      graft.functions.EntropyProfile(
        org.apache.spark.sql.graftbridge.Bridge.expressionOf(text)))
    docs
      .select(col(idCol), prof.as("__ep"))
      .filter(col("__ep").isNotNull)
      .select(col(idCol),
        col("__ep")("n_chars_nospace").as("n_chars_nospace"),
        col("__ep")("h_chars").as("h_chars"),
        col("__ep")("n_tokens").as("n_tokens"),
        col("__ep")("h_words").as("h_words"))
      .withColumn("low_entropy", col("h_chars") < minCharEntropy)
  }

  /** The exchange-based reference formulation of [[entropyProfile]] —
    * two hash aggregations per symbol branch (the per-doc total rides the
    * explode as `size(arr)`, so there is no window and no sort), built
    * from portable Spark primitives. Kept as the kernel's parity
    * reference; identical output contract. */
  def entropyProfileExchange(docs: DataFrame, idCol: String, text: Column,
                             minCharEntropy: Double = 2.0): DataFrame = {
    def entropyOf(tag: String, src: DataFrame): DataFrame = {
      // src = (idCol, n, y): n is the doc's total symbol count, constant
      // per doc, so grouping by it adds no groups — and the final rollup
      // needs no window/join to recover it
      val cnt = src.groupBy(col(idCol), col("n"), col("y"))
        .agg(count(lit(1)).as("c"))
      val p = col("c").cast("double") / col("n").cast("double")
      cnt
        .select(col(idCol), col("n"),
          round(p * log(p), 6).cast(DecimalType(28, 6)).as("t"))
        .groupBy(col(idCol))
        .agg(max(col("n")).as(s"n_$tag"),
          (floor(-sum(col("t")).cast("double") * lit(1e6)).cast("double")
            / lit(1e6)).as(s"h_$tag"))
    }
    // materialize each symbol array as an ATTRIBUTE before size/explode:
    // written inline, the analyzer's generator extraction leaves the raw
    // array expression in the post-Generate projection, re-building the
    // whole array PER EXPLODED ROW — O(len²) per doc
    def exploded(arr: Column): DataFrame = docs
      .select(col(idCol), arr.as("__arr"))
      .select(col(idCol), size(col("__arr")).as("n"),
        explode(col("__arr")).as("y"))
    val chars = exploded(filter(split(text, ""), c => c =!= "" && c =!= " "))
    val toks = exploded(words(text))
    entropyOf("chars", chars)
      .join(entropyOf("words", toks), Seq(idCol))
      .select(col(idCol), col("n_chars").cast("long").as("n_chars_nospace"),
        col("h_chars"), col("n_words").cast("long").as("n_tokens"),
        col("h_words"),
        (col("h_chars") < minCharEntropy).as("low_entropy"))
  }

  /** The TRANSFORM side of [[dupSpanFraction]]'s diagnostic: exact
    * cross-document substring deduplication (Lee et al. 2022) — every word
    * position covered by a word-k-gram span that also appears in ≥2
    * distinct documents is REMOVED, and the document is reconstructed from
    * the surviving words (the dedup actually applied to training corpora,
    * not just measured). Removing from BOTH copies is the paper's recipe
    * (ExactSubstr deduplicates both occurrences).
    *
    * Dataflow (three exchanges, all key-partitioned, nothing driver-side):
    *  1. gram occurrences with positions; the min≠max window over the gram
    *     flags duplicated span STARTS in place (q148's single-exchange
    *     trick);
    *  2. flagged starts fan out to the ≤k word positions they cover
    *     (doc-keyed distinct);
    *  3. word positions anti-join the covered set (doc+pos keyed) and the
    *     survivors re-assemble via one doc-keyed sort-rollup
    *     (collect_list of (pos, word) structs, sorted — deterministic, the
    *     struct order IS the position order).
    * The gram string is the shuffle key verbatim (oracle replay); at
    * production scale xxhash64 it to cut exchange width. Docs shorter than
    * k words have no grams and survive whole; docs that are ENTIRELY
    * duplicated spans come back with n_kept=0 and empty text — rows are
    * never dropped, so the output stays a 1:1 map of the corpus. */
  def removeDupSpans(docs: DataFrame, idCol: String, text: Column,
                     k: Int = 5): DataFrame = {
    // coalesce to an empty array so a NULL text row keeps the documented
    // ""/0 contract (the kernel null-propagates; the old explode/anti-join
    // form guaranteed empty output) — output stays a 1:1 corpus map
    val base = docs.select(col(idCol),
      coalesce(words(text), array().cast("array<string>")).as("__ws"))
    val occ = base.select(col(idCol),
      posexplode(wordGrams(array_join(col("__ws"), " "), k)))
      .toDF(idCol, "pos", "gram")
    val w = Window.partitionBy(col("gram"))
    val dupStarts = occ.withColumn("is_dup",
        min(col(idCol)).over(w) =!= max(col(idCol)).over(w))
      .where(col("is_dup"))
    // per-doc start list (one id-keyed exchange), then ONE kernel sweep
    // per row rebuilds the text: sorted interval merge + survivor join
    // (functions.RemoveSpans). The earlier explode(k)-per-start →
    // corpus-sized distinct → anti-join → collect_list reassembly did the
    // same thing in two extra shuffles, with per-doc cost RISING with dup
    // density (64x probe: 148 → 194 µs/doc); the kernel is O(words +
    // starts·log starts) per row at any density.
    val starts = dupStarts.groupBy(col(idCol))
      .agg(collect_list(col("pos")).as("__starts"))
    val cleaned = graft.functions.TextFunctions.removeSpans(
      col("__ws"), coalesce(col("__starts"), typedLit(Seq.empty[Int])), k)
    base.join(starts, Seq(idCol), "left")
      .withColumn("__clean", cleaned)
      .select(col(idCol), size(col("__ws")).cast("long").as("n_words"),
        when(length(col("__clean")) === 0, lit(0L))
          .otherwise(size(split(col("__clean"), " ")).cast("long")).as("n_kept"),
        col("__clean").as("cleaned_text"))
  }
}
