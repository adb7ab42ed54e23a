package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftServer, GraftSession, PerfbenchAccess, SparkEntry, Tables}

/** The benchmark harness. Drives graft from outside through its public
  * entry points and writes one JSON file of raw measurements; run.py
  * turns that into metrics. Modes:
  *
  *   run     one workload run (see Workloads)
  *   oracle  write the oracle SQL and Spark's own digest of every
  *           query of a batch workload (the expected-digest generator)
  *   digest  normalize one parquet file (the normalizer self-test)
  */
object Harness {

  final case class Args(mode: String, workload: String, seed: Long,
                        seconds: Double, trace: Boolean, data: String,
                        work: String, out: String, expected: String,
                        launchMs: Long, cores: Int)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m.getOrElse("mode", "run"), m("workload"), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      m("data"), m("work"), m("out"), m.getOrElse("expected", ""),
      m.getOrElse("launch-ms", System.currentTimeMillis.toString).toLong,
      m.getOrElse("cores", Runtime.getRuntime.availableProcessors.toString).toInt)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val result = a.mode match {
      case "run" => new Run(a).apply()
      case "oracle" => oracle(a)
      case "digest" => digest(a)
      case other => sys.error(s"unknown mode $other")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(a.out),
      Json(result).getBytes("UTF-8"))
  }

  /** Bench's harness sizing on top of the session users get. */
  def session(a: Args): SparkSession = {
    val s = GraftSession.builder("perfbench")
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toLong)
      .config("spark.sql.files.maxPartitionBytes", 32L * 1024 * 1024)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Bench's warm-up on the tiny dimension tables: JVM one-time setup
    * (codegen, parquet footers, broadcast/shuffle/window paths) is
    * nobody's query.
    */
  def warmup(spark: SparkSession, dir: String): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    val region = Tables.region(spark, dir)
    val nation = Tables.nation(spark, dir)
    nation.join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name").agg(count(lit(1)), countDistinct(col("n_name"))).collect()
    nation.as("a").join(nation.as("b"), col("a.n_regionkey") === col("b.n_regionkey"))
      .groupBy("a.n_name").count().collect()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("n_regionkey").orderBy("n_nationkey")
    nation.withColumn("rn", row_number().over(w)).where(col("rn") === 1).collect()
    Tables.names.filter(t => new java.io.File(s"$dir/$t.parquet").exists)
      .foreach(t => Tables.load(spark, dir, t).schema)
  }

  /** Normalized rows and digest of the parquet file at `--data` (the
    * self-tests compare them with the Python normalizer's).
    */
  private def digest(a: Args): Map[String, Any] = {
    val spark = session(a)
    val df = spark.read.parquet(a.data)
    val rows = df.collect()
    val cols = df.schema.fieldNames.toSeq.sorted
    val cells = rows.map(r => cols.map(c => Digest.cell(r.get(r.fieldIndex(c)))))
    val d = Digest.of(df.schema, rows)
    stop(spark)
    Map("cols" -> cols, "rows" -> cells.toSeq, "sha" -> d.sha)
  }

  private def oracle(a: Args): Map[String, Any] = {
    val names = Workloads.queries(a.workload)
    val dir = Workloads.input(a.workload, a.data, a.work)
    val spark = session(a)
    val out = names.map { n =>
      val df = SparkEntry.queries(n)(spark, dir)
      val d = Digest.of(df.schema, df.collect())
      n -> Map("oracle" -> SparkEntry.oracleSql.get(n),
        "spark" -> Map("sha" -> d.sha, "rows" -> d.rows, "cols" -> d.cols))
    }.toMap
    stop(spark)
    Map("workload" -> a.workload, "data" -> dir, "queries" -> out)
  }
}

/** Workload definitions: query lists and the per-workload input. */
object Workloads {
  val formats: Seq[String] = Seq("q_arrow_roundtrip", "q_feather_roundtrip",
    "q_arrow_json_roundtrip", "q_orc_roundtrip", "q_csv_roundtrip",
    "q_json_roundtrip", "q_plasma_roundtrip", "q_partitioned_dataset",
    "q_parquet_meta")

  /** The operator queries of the curation workload, by family: two or
    * three per family, the slow and anti-scaling ones first.
    */
  val families: Seq[(String, Seq[String])] = Seq(
    "dedup" -> Seq("q_dedup_minhash", "q_dedup_chunks", "q_semantic_dedup"),
    "retrieval" -> Seq("q_ann_index", "q_bm25_index", "q_hybrid_rrf", "q_mmr_rerank"),
    "text" -> Seq("q_edit_distance", "q_bigram_lm"),
    "curation" -> Seq("q_curation_pipeline", "q_dsir_weights"))

  /** Format round trips the curation workload runs beside the
    * operators, so the `sources` layer is measured on it too.
    */
  val curationFormats: Seq[String] = Seq("q_arrow_roundtrip", "q_parquet_meta")

  def family(q: String): String =
    if (formats.contains(q)) "sources"
    else families.find(_._2.contains(q)).map(_._1).getOrElse("relational")

  def queries(w: String): Seq[String] = w match {
    case "relational" => (1 to 22).map(i => s"q_tpch$i") ++ formats
    case "curation" => families.flatMap(_._2) ++ curationFormats
    case _ => Nil
  }

  /** The curation operators read documents and embeddings only; they
    * run on a ScaleGen copy with `curationScale` copies of those two
    * (fresh keys, copy-local token suffixes, jittered vectors). The
    * other tables are copied as they are, so the format round trips
    * and their oracles read the committed files.
    */
  val curationScale = 3
  val scaledTables: Seq[String] = Seq("documents", "embeddings")

  /** The workload's input directory, derived under `work` when the
    * workload needs a derived copy. ScaleGen starts and stops a
    * session of its own, so call this before the harness session.
    */
  def input(w: String, data: String, work: String): String = w match {
    case "curation" =>
      val dst = s"$work/data-x$curationScale"
      graft.tools.ScaleGen.main(Array(data, dst, curationScale.toString,
        scaledTables.mkString(",")))
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      Tables.names.filterNot(scaledTables.contains).foreach { t =>
        val src = java.nio.file.Paths.get(s"$data/$t.parquet")
        if (java.nio.file.Files.exists(src))
          java.nio.file.Files.copy(src, java.nio.file.Paths.get(s"$dst/$t.parquet"))
      }
      dst
    case _ => data
  }
}

object Run {
  val warmPasses = 1

  /** Before a timed region: collect garbage and wait (at most 3 s) until
    * the JIT has compiled nothing for 250 ms, so the region does not
    * pay for the previous one's leftovers.
    */
  def quiesce(): Unit = {
    System.gc()
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 3000000000L
    var last = jit.getTotalCompilationTime
    var quiet = 0
    while (quiet < 5 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val t = jit.getTotalCompilationTime
      quiet = if (t == last) quiet + 1 else 0
      last = t
    }
  }

  /** (JIT compile, GC) seconds of this JVM so far */
  def jvmBusy: (Double, Double) = {
    import java.lang.management.ManagementFactory.{getCompilationMXBean, getGarbageCollectorMXBeans}
    (getCompilationMXBean.getTotalCompilationTime / 1e3,
      getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3)
  }

  /** span levels whose time is an action: executing, not planning */
  val actionLevels = Set("action", "request", "batch")
}

/** One run of one workload. */
final class Run(a: Harness.Args) {
  private val tracer = new Tracer(a.trace, s"${a.workload}-${a.seed}")
  private val listener = new StageListener
  private var spark: SparkSession = _
  private var dataDir = a.data
  private val failures = mutable.LinkedHashMap.empty[String, String]
  private var attempted = 0L
  private var failed = 0L
  private val census = mutable.Map.empty[String, Int].withDefaultValue(0)
  private def now = System.nanoTime()
  private def secs(t0: Long) = (now - t0) / 1e9

  private def fail(op: String, why: String): Unit = {
    failed += 1
    failures.getOrElseUpdate(op, why.take(300))
  }

  /** A leaf span whose Spark jobs are charged to it. */
  private def leaf[T](level: String, name: String)(body: => T): T =
    tracer.span(level, name) {
      if (tracer.enabled)
        spark.sparkContext.setJobGroup(s"span-${tracer.current}", name)
      try body
      finally if (tracer.enabled) spark.sparkContext.clearJobGroup()
    }

  private def phase[T](name: String)(body: => T): T =
    tracer.span("phase", name) {
      listener.fallback = tracer.current
      body
    }

  def apply(): Map[String, Any] = {
    val loadStart = Context.loadavg
    val jvmS = (System.currentTimeMillis - a.launchMs) / 1e3
    val out = mutable.LinkedHashMap.empty[String, Any]
    tracer.span("workload", a.workload) {
      // set-up, from JVM launch to the first timed call: derive the
      // input, start the session users get and warm it
      val t0 = now
      tracer.span("phase", "setup") {
        dataDir = Workloads.input(a.workload, a.data, a.work)
        spark = Harness.session(a)
        Harness.warmup(spark, dataDir)
      }
      out("setup_s") = jvmS + secs(t0)
      out("jvm_start_s") = jvmS
      if (tracer.enabled) spark.sparkContext.addSparkListener(listener)
      a.workload match {
        case "relational" | "curation" => out ++= batch()
        case "ingest_serve" => out ++= new IngestServe().apply()
        case w => sys.error(s"unknown workload $w")
      }
    }
    if (tracer.enabled) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    out("attempted") = attempted
    out("failed") = failed
    out("failures") = failures
    out("census") = census.toMap
    out("heap_peak_mb") = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    out("context") = Context(spark, a, loadStart)
    if (tracer.enabled) {
      val spans = tracer.all
      out("phases") = spans.filter(_.level == "phase").map { p =>
        val ids = spans.filter(s => tracer.ancestor(s.id, "phase").exists(_.id == p.id))
          .map(_.id).toSet
        val acc = listener.total(ids)
        val actionS = spans.filter(s => ids(s.id) && Run.actionLevels(s.level))
          .map(s => s.endNs - s.startNs).sum / 1e9
        Map("name" -> p.name, "wall_s" -> (p.endNs - p.startNs) / 1e9,
          "action_s" -> actionS) ++ acc.toMap
      }
      out("self_s") = tracer.selfTimes
      out("spans") = tracer.toJson(spans.map(s =>
        s.id -> listener.total(_ == s.id)).filter(_._2.jobs > 0)
        .map { case (id, acc) => id -> acc.toMap }.toMap)
    }
    Harness.stop(spark)
    out.toMap
  }

  // ------------------------------------------------------------ batch

  private def shuffled[T](xs: Seq[T], salt: Long): Seq[T] =
    new Random(a.seed * 1000003L + salt).shuffle(xs)

  private def batch(): Map[String, Any] = {
    val names = Workloads.queries(a.workload)
    val expected = Expected.load(a.expected)
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    // a fixed amount of work, so counts repeat exactly between runs:
    // one cold pass, then the warm passes
    (0 to Run.warmPasses).foreach { p =>
      val q0 = now
      Run.quiesce()
      val quiesceS = secs(q0)
      val (jit0, gc0) = Run.jvmBusy
      val r = pass(p, shuffled(names, p), expected)
      val (jit1, gc1) = Run.jvmBusy
      passes += r ++ Map("quiesce_s" -> quiesceS, "jit_s" -> (jit1 - jit0), "gc_s" -> (gc1 - gc0))
    }
    val timed = passes.map(_("wall_s").asInstanceOf[Double]).sum
    if (timed > a.seconds)
      Console.err.println(f"perfbench: timed region $timed%.1f s exceeds --seconds ${a.seconds}")
    Map("passes" -> passes.toSeq)
  }

  private def pass(p: Int, order: Seq[String],
                   expected: Map[String, String]): Map[String, Any] = {
    val label = if (p == 0) "cold" else "warm"
    val recs = mutable.ArrayBuffer.empty[Map[String, Any]]
    var wall = 0.0
    phase(s"$label$p") {
      order.foreach { name =>
        val (m0h, m0b) = PerfbenchAccess.memoCounters
        attempted += 1
        val r = tracer.span("query", name) {
          try {
            val t0 = now
            val df = leaf("construct", name)(SparkEntry.queries(name)(spark, dataDir))
            val tc = secs(t0)
            val t1 = now
            leaf("settle", name)(df.queryExecution.executedPlan)
            val ts = secs(t1)
            val t2 = now
            val rows = leaf("action", name)(df.collect())
            val ta = secs(t2)
            Right((df, rows, tc, ts, ta))
          } catch { case NonFatal(e) => Left(e) }
        }
        val (m1h, m1b) = PerfbenchAccess.memoCounters
        val rec = mutable.LinkedHashMap[String, Any]("name" -> name,
          "family" -> Workloads.family(name),
          "memo_hits" -> (m1h - m0h), "memo_builds" -> (m1b - m0b))
        r match {
          case Left(e) =>
            fail(name, e.toString)
            rec("ok") = false
          case Right((df, rows, tc, ts, ta)) =>
            wall += tc + ts + ta
            rec ++= Seq("construct_s" -> tc, "settle_s" -> ts, "action_s" -> ta,
              "rows" -> rows.length)
            val phases = df.queryExecution.tracker.phases
            Seq("analysis", "optimization", "planning").foreach { k =>
              rec(s"${k}_s") = phases.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
            }
            // correctness, outside the timed region
            val d = Digest.of(df.schema, rows)
            val ok = expected.get(name) match {
              case Some(sha) if sha == d.sha => true
              case Some(_) => fail(name, s"digest mismatch (${d.rows} rows)"); false
              case None => fail(name, "no expected digest"); false
            }
            rec("ok") = ok
            if (tracer.enabled && p == 0)
              PlanCensus(df.queryExecution.executedPlan).foreach { case (k, v) =>
                census(k) += v }
        }
        recs += rec.toMap
      }
    }
    val cached = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
    Map("pass" -> p, "kind" -> label, "wall_s" -> wall, "cached_mb" -> cached,
      "queries" -> recs.toSeq)
  }

  // ----------------------------------------------------- ingest_serve

  /** Build, ingest, serve in one session: seed the three indexes from a
    * seed-chosen half of the docs that have embeddings, stream the
    * other half through IngestPipeline, and after each micro-batch
    * serve fused ANN + BM25 → RRF → MMR chains from one GraftServer
    * that watches both indexes.
    */
  private final class IngestServe {
    import graft.operators.{AnnIndex, Bm25Index, DedupIndex, Similarity, TextAnalysis}
    import graft.streaming.IngestPipeline

    private val root = s"${a.work}/ingest"
    private val (dedupDir, annDir, bm25Dir) = (s"$root/dedup", s"$root/ann", s"$root/bm25")
    private val (sinkDir, ckptDir) = (s"$root/sink", s"$root/ckpt")

    private def sig(rows: Array[Row]): Seq[String] = rows.map(_.toString).sorted.toSeq

    /** One fused ANN + BM25 → RRF → MMR chain over the live indexes. */
    private def chain(qids: Seq[Long])(s: SparkSession, d: String): DataFrame = {
      val ann = AnnIndex.open(s, annDir)
      val lex = Bm25Index.open(s, bm25Dir)
      val ids = qids.map(lit(_))
      val qv = Tables.embeddings(s, d).where(col("vec_id").isin(ids: _*))
      val qd = Tables.documents(s, d).where(col("doc_id").isin(ids: _*))
      val dense = AnnIndex.searchAdc(ann, qv, k = 20, nprobe = 4)
        .select(col("qid"), col("nid"), col("rank"))
      val lexical = Bm25Index.search(lex, qd, "doc_id", "text", topK = 20)
        .select(col("qid"), col("nid"), col("rank"))
      Similarity.mmrRerankCandidates(
        ann.cells.select(col("vec_id"), col("embedding")),
        Similarity.rrfFuse(Seq(dense, lexical), topK = 10)
          .select(col("qid"), col("nid"), col("rrf").as("rel")),
        k = 5)
    }

    def apply(): Map[String, Any] = {
      import IngestServe._
      val out = mutable.LinkedHashMap.empty[String, Any]
      val all = Tables.documents(spark, dataDir)
        .join(Tables.embeddings(spark, dataDir).select(col("vec_id").as("doc_id"),
          col("embedding")), "doc_id")
        .select("doc_id", "text", "embedding").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getSeq[Float](2).toArray))
        .sortBy(_._1).toSeq
      val order = new Random(a.seed).shuffle(all)
      val (seedDocs, stream) = order.splitAt(order.size / 2)
      val streamBatches = stream.grouped(math.ceil(stream.size.toDouble / batches).toInt).toSeq
      val session = spark
      import session.implicits._

      // ---- build: seed the three indexes
      val builds = mutable.LinkedHashMap.empty[String, Double]
      phase("build") {
        val seedDf = seedDocs.toDF("doc_id", "text", "embedding").cache()
        seedDf.count()
        def timed(name: String)(body: => Unit): Unit = {
          val t0 = now
          leaf("batch", name)(body)
          builds(name) = secs(t0)
        }
        timed("dedup")(DedupIndex.write(seedDf, "doc_id", "text", dedupDir,
          nBuckets = 64, nSigBuckets = 16, filesPerBucket = 1))
        timed("ann")(AnnIndex.write(seedDf.select(col("doc_id").as("vec_id"),
          col("embedding")), annDir, dim = 64, nCells = 8, stride = 3,
          kmeansIters = 2, m = 8, ncodes = 16))
        timed("bm25")(Bm25Index.write(seedDf, "doc_id", "text", bm25Dir, nBuckets = 8))
        seedDf.unpersist()
      }
      out("build_s") = builds.toMap

      // ---- the served chains: seed-chosen query slices
      val allIds = all.map(_._1)
      val registry = (0 until chains).map { c =>
        val qids = new Random(a.seed * 31 + c).shuffle(allIds).take(queriesPerChain).sorted
        s"chain$c" -> (chain(qids) _)
      }.toMap
      val server = new GraftServer(spark, registry)
      registry.keys.foreach(n => server.watchIndexes(n, dataDir, Seq(annDir, bm25Dir)))

      // ---- ingest micro-batches, each followed by a serve round
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, Array[Float])](spark)
      val gate: DataFrame => DataFrame =
        df => df.where(TextAnalysis.gopherPass(col("text"), minWords = 5L, minStop = 1L))
      val q = IngestPipeline.start(input.toDF().toDF("doc_id", "text", "embedding"),
        "doc_id", "text", gate, dedupDir, annDir, sinkDir,
        threshold, checkpointDir = ckptDir, bm25IndexDir = Some(bm25Dir))
      val rounds = mutable.ArrayBuffer.empty[Map[String, Any]]
      try {
        streamBatches.zipWithIndex.foreach { case (b, i) =>
          val t0 = now
          phase(s"ingest$i") {
            leaf("batch", s"batch$i") {
              input.addData(b: _*)
              q.processAllAvailable()
            }
          }
          val batchS = secs(t0)
          rounds += phase(s"serve$i")(round(i, server, registry)) ++
            Map("docs" -> b.size, "batch_s" -> batchS)
        }
      } finally q.stop()
      val progress = q.recentProgress.filter(_.numInputRows > 0).map { pr =>
        def g(k: String) = Option(pr.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
        Map("rows_in" -> pr.numInputRows, "trigger_s" -> g("triggerExecution"),
          "add_batch_s" -> g("addBatch"), "planning_s" -> g("queryPlanning"),
          "commit_s" -> (g("commitOffsets") + g("walCommit")))
      }.toSeq

      // ---- correctness: the clean sink holds each survivor once. The
      // survivors are recomputed batch by batch: the gate, then the
      // dedup screen against the index as it stood before the batch
      attempted += 1
      val sink = spark.read.parquet(sinkDir).select("doc_id").as[Long].collect()
      val idx = DedupIndex.open(spark, dedupDir)
      val survivors = streamBatches.zipWithIndex.flatMap { case (b, i) =>
        val res = DedupIndex.screenBatch(idx, gate(b.toDF("doc_id", "text", "embedding")),
          "doc_id", "text", threshold, beforeBatch = Some(i + 1L))
        try res.clean.select("doc_id").as[Long].collect().toSeq
        finally res.release()
      }
      if (sink.length != sink.distinct.length) fail("sink", "a doc_id is held twice")
      else if (sink.toSet != survivors.toSet)
        fail("sink", s"the sink holds ${sink.length} docs, the survivors are " +
          s"${survivors.distinct.size} (${(survivors.toSet -- sink).size} missing)")
      val (hits, bld) = server.counters

      def files(d: String): (Long, Long) = {
        val fs = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
        try {
          val xs = fs.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
            .map(java.nio.file.Files.size).toSeq
          (xs.size.toLong, xs.sum)
        } finally fs.close()
      }
      val sizes = Seq(dedupDir, annDir, bm25Dir).map(files)
      out ++= Seq("rounds" -> rounds.toSeq, "progress" -> progress,
        "stream_docs" -> stream.size, "rows_clean" -> sink.length,
        "server_hits" -> hits, "server_builds" -> bld,
        "index_files" -> sizes.map(_._1).sum, "index_mb" -> sizes.map(_._2).sum / 1048576.0)
      out.toMap
    }

    /** The refresh (first request per chain after the batch: GEN moved,
      * so the plan rebuilds), then a closed loop of `clients` threads
      * over seed-ordered requests: `warmupLoops` loops untimed, so the
      * JIT settles on the hit path, then `loopsPerRound` timed ones.
      * Afterwards, outside the timed region, every response is checked
      * against a fresh collect of its chain at this index version.
      */
    private def round(i: Int, server: GraftServer,
                      registry: Map[String, (SparkSession, String) => DataFrame])
        : Map[String, Any] = {
      import IngestServe._
      val names = registry.keys.toSeq.sorted
      val first = mutable.LinkedHashMap.empty[String, Array[Row]]
      val refresh = shuffled(names, 7919L * (i + 1)).map { n =>
        val t0 = now
        first(n) = leaf("request", s"refresh:$n")(server.serveRows(n, dataDir))
        secs(t0)
      }
      val lat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val parent = tracer.current
      // the closed loop runs as several short loops, so one stall does
      // not decide the round's figure
      def loop(l: Int, timed: Boolean): Double = {
        val reqs = shuffled(Seq.tabulate(requestsPerLoop)(k => names(k % names.size)),
          104729L * (i + 1) + l)
        val t0 = now
        val threads = (0 until clients).map { c =>
          val th = new Thread(() => {
            reqs.zipWithIndex.filter(_._2 % clients == c).foreach { case (n, _) =>
              val t = now
              try {
                val rows = tracer.span("request", n, parent) {
                  if (tracer.enabled)
                    spark.sparkContext.setJobGroup(s"span-${tracer.current}", n)
                  server.serveRows(n, dataDir)
                }
                if (timed) lat.add(secs(t))
                if (sig(rows) != sig(first(n))) bad.add(n)
              } catch { case NonFatal(e) => bad.add(s"$n:$e") }
            }
          })
          th.start(); th
        }
        threads.foreach(_.join())
        secs(t0)
      }
      (0 until warmupLoops).foreach(l => loop(l, timed = false))
      Run.quiesce()
      val loops = (warmupLoops until warmupLoops + loopsPerRound).map(loop(_, timed = true))
      attempted += (warmupLoops + loopsPerRound) * requestsPerLoop + names.size
      // the fresh collects run side by side: they are not timed
      val checks = names.map { n =>
        val df = registry(n)(spark, dataDir)
        val th = new Thread(() => {
          try {
            val fresh = tracer.span("check", n, parent) {
              if (tracer.enabled)
                spark.sparkContext.setJobGroup(s"span-${tracer.current}", n)
              df.collect()
            }
            if (sig(first(n)) != sig(fresh)) bad.add(s"$n:fresh")
          } catch { case NonFatal(e) => bad.add(s"$n:fresh:$e") }
        })
        th.start()
        (df, th)
      }
      checks.foreach(_._2.join())
      bad.asScala.foreach { b =>
        val (n, why) = b.split(":", 2) match {
          case Array(n, "fresh") => (n, "served rows differ from a fresh collect")
          case Array(n, e) => (n, e)
          case Array(n) => (n, "a cached response differs from the refresh")
        }
        fail(s"serve:$n", why)
      }
      if (tracer.enabled && i == 0)
        checks.foreach { case (df, _) =>
          PlanCensus(df.queryExecution.executedPlan).foreach { case (k, v) => census(k) += v }
        }
      Map("round" -> i, "refresh_s" -> refresh, "loop_s" -> loops,
        "hit_s" -> lat.asScala.toSeq)
    }
  }

  private object IngestServe {
    val batches = 1
    val chains = 2
    val queriesPerChain = 8
    val warmupLoops = 3
    val loopsPerRound = 6
    val requestsPerLoop = 24
    val clients = 2
    val threshold = 0.8
  }
}
