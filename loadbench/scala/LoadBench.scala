package loadbench

import org.apache.spark.sql.SparkSession

/** Workload sizes, defined once for `run` and `gen-digest`. */
object Sizes {
  /** hub_sync: talks and speakers of the schedule, Hub page size, sync
    * rounds per cycle, untimed warm-up rounds after the initial load. */
  val Talks = 2000
  val Speakers = 100
  val PageSize = 100
  val RoundsPerCycle = 3
  val WarmRounds = 1
  /** corpus_index: copies of each fixture document, docs per delete or
    * ingest batch. */
  val Copies = 4
  val Batch = 10
  /** star_analytics: untimed passes over every query before the timed one. */
  val StarWarmPasses = 1
  /** Cycles of the timed phase. The work of a run is fixed: one cycle
    * untraced, two traced (every operation traced in one of them). */
  def cycles(traced: Boolean): Int = if (traced) 2 else 1
}

/** JVM side of the benchmark (run through `loadbench/run.py`).
  *
  *   LoadBench run --workload W --seed N --trace 0|1 --root DIR --out FILE
  *                 --cores C --fixture DIR --digests FILE [--record 1]
  *   LoadBench gen-digest --workload W|all --seed N --root DIR --fixture DIR
  *
  * `run` sets up workload W, runs [[Sizes.cycles]] cycles of closed-loop
  * operations, checks the outputs, and writes the raw run record
  * (operations, spans, jobs) as JSON to FILE. `gen-digest` only runs W's
  * input generator and prints the digest of the inputs it made. FIXTURE
  * is the benchmark's copy of the engine's sf0.01 test tables. */
object LoadBench {
  val WorkloadNames = Seq("hub_sync", "star_analytics", "corpus_index")

  def session(root: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("loadbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    graft.plans.ElementAtNullIndexGuard.ensureInjected(spark)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val mode = args.head
    val opt = args.tail.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val root = opt("root")
    val workload = opt.getOrElse("workload", "all")
    val seed = opt("seed").toLong
    val spark = session(root, opt.get("cores").map(_.toInt).getOrElse(4))
    try mode match {
      case "gen-digest" =>
        val names = if (workload == "all") WorkloadNames else Seq(workload)
        names.foreach(w =>
          println(s"$w ${genDigest(spark, w, seed, s"$root/$w", opt("fixture"))}"))
      case "run" => run(spark, workload, seed, opt)
    } finally spark.stop()
  }

  private def run(spark: SparkSession, workload: String, seed: Long,
                  opt: Map[String, String]): Unit = {
    val rec = new Recorder(spark.sparkContext)
    rec.mark("session")
    val trace = opt("trace") == "1"
    val w = Workloads(workload, spark, rec, opt("root"), seed, opt)
    w.setup()
    val cpuStart = rec.cpuNs()
    val timedStart = rec.now()
    val cycles = Sizes.cycles(trace)
    // a traced run traces every other operation, alternating by cycle, so
    // that each operation is seen traced and untraced
    (0 until cycles).foreach(c => w.cycle(c, i => trace && (c + i) % 2 == 1))
    val timedEnd = rec.now()
    val cpuNs = rec.cpuNs() - cpuStart - rec.untimedCpuNs
    rec.stop()
    val facts = w.finish()
    rec.mark("checked")
    val jobs = rec.jobs.values().toArray(Array.empty[rec.Job]).toSeq.sortBy(_.id)
    Json.write(opt("out"), Map(
      "workload" -> workload, "seed" -> seed, "cycles" -> cycles,
      "timed_start" -> timedStart, "timed_end" -> timedEnd,
      "untimed_ms" -> rec.untimedMs, "cpu_s" -> cpuNs / 1e9,
      "peak_heap_mb" -> rec.peakHeapBytes / 1048576.0,
      "cores" -> spark.sparkContext.defaultParallelism,
      "facts" -> facts,
      "marks" -> rec.marks.map { case (k, t) => Map("name" -> k, "at" -> t) },
      "ops" -> rec.ops.map(o => Map("id" -> o.id, "cycle" -> o.cycle,
        "name" -> o.name, "kind" -> o.kind, "start" -> o.start, "end" -> o.end, "ok" -> o.ok,
        "traced" -> o.traced, "err" -> o.err, "gc_ms" -> o.gcMs,
        "jit_ms" -> o.jitMs, "extra" -> o.extra)),
      "spans" -> rec.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "start" -> s.start, "end" -> s.end)),
      "jobs" -> jobs.map(j => Map("id" -> j.id, "op" -> j.op, "start" -> j.start,
        "end" -> j.end, "site" -> j.site, "tasks" -> j.tasks, "task_ms" -> j.taskMs,
        "shuffle_read" -> j.shuffleRead, "shuffle_write" -> j.shuffleWrite,
        "spill" -> j.spill))))
  }

  /** Digest of the inputs the generator makes for `workload` at `seed`,
    * over the set-up and the first timed cycle, at the sizes runs use. */
  def genDigest(spark: SparkSession, workload: String, seed: Long,
                root: String, fixture: String): String = {
    val d = new Gen.Digest
    workload match {
      case "hub_sync" =>
        val f = new Gen.Festival(seed, Sizes.Talks, Sizes.Speakers)
        // as HubSync makes them: the initial load, then the Hub as it
        // stood before each round beside the advanced schedule
        (0 until 1 + Sizes.WarmRounds + Sizes.RoundsPerCycle).foreach { i =>
          val hub = if (i == 0) Nil else f.hubPages(Sizes.PageSize)
          if (i > 0) f.advance()
          Gen.writeRound(s"$root/inputs/round-$i", f.scheduleJson, hub, d)
        }
      case "star_analytics" =>
        d.add(StarAnalytics.order(new java.util.Random(seed)).mkString(","))
      case "corpus_index" =>
        val c = new Gen.Corpus(seed, CorpusIndex.baseDocs(spark, fixture), Sizes.Copies)
        c.initial().foreach { case (i, t) => d.add(s"$i\t$t") }
        CorpusIndex.CycleOps.foreach {
          case "search" => d.add(c.terms().mkString(" "))
          case "delete" => d.add(c.victims(Sizes.Batch).mkString(","))
          case _ => c.ingest(Sizes.Batch).foreach { case (i, t) => d.add(s"$i\t$t") }
        }
    }
    d.hex
  }
}

/** The stored reference digests of the star queries: a flat JSON object of
  * query name → digest. */
object DigestFile {
  def read(path: String): Map[String, String] = {
    val f = new java.io.File(path)
    if (!f.exists()) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(f).fields().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap
    }
  }
  def write(path: String, m: Map[String, String]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      m.toSeq.sortBy(_._1).map { case (k, v) => s"  ${Json.str(k)}: ${Json.str(v)}" }
        .mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
}
