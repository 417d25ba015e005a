package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import scala.collection.mutable
import graft.{AuxTables, QueryGuard, SparkEntry}

/** Benchmark of the shipped KG job and the queued query floors.
  *
  * Usage: graftbench.Main run --workload W --seed N --seconds S --trace 0|1
  *          --work DIR --data SFDIR
  *        graftbench.Main prepare --work DIR --data SFDIR
  *        graftbench.Main parity --work DIR
  *
  * `run` prints a host stamp line and then, as its last line, the result
  * object {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
  * metrics are the end-to-end ones of workload W; with --trace 1 it runs
  * every operation once traced and reports the per-layer metrics.
  */
object Main {
  val Cores = 4
  /** Pages in the seeded corpus of the kg_* workloads. */
  val Pages = 3000L
  /** `KgRun`'s input partitioning: four partitions per core. */
  val Partitions: Int = Cores * 4
  /** The queries ROADMAP queues for performance work. */
  val QuerySet = Seq("q_containment", "q_simjoin_exact", "q_pmi_top", "q_ngram_topk",
    "q_tfidf_topterms", "q_inverted_index", "q_kg_hits", "q_pack_shards")
  val QueryTimeoutMs = 60000L
  /** Pages of the corpus the per-document probe loops over. */
  val ProbePages = 500
  val Workloads = Seq("kg_cold", "query_session")

  final case class Opts(mode: String, workload: String = "", seed: Long = 42L, seconds: Double = 10,
                        trace: Boolean = false, work: String = "", data: String = "")

  def parse(args: Array[String]): Opts =
    args.toList.tail.grouped(2).foldLeft(Opts(args.head)) {
      case (o, List("--workload", v)) => o.copy(workload = v)
      case (o, List("--seed", v)) => o.copy(seed = v.toLong)
      case (o, List("--seconds", v)) => o.copy(seconds = v.toDouble)
      case (o, List("--trace", v)) => o.copy(trace = v == "1")
      case (o, List("--work", v)) => o.copy(work = v)
      case (o, List("--data", v)) => o.copy(data = v)
      case (_, other) => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val code = o.mode match {
      case "run" =>
        require(Workloads.contains(o.workload), s"unknown workload '${o.workload}'")
        new Run(o).apply()
      case "prepare" =>
        val spark = session(o.work)
        AuxTables.ensure(spark, o.data)
        spark.stop()
        0
      case "parity" => Parity.run(o.work)
      case m => throw new IllegalArgumentException(s"unknown mode '$m'")
    }
    sys.exit(code)
  }

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def json(m: Map[String, Any]): String = m.toSeq.sortBy(_._1).map {
    case (k, v: String) => s""""$k":"${v.replace("\\", "\\\\").replace("\"", "\\\"")}""""
    case (k, v: Map[_, _]) => s""""$k":${json(v.asInstanceOf[Map[String, Any]])}"""
    case (k, v: Double) => s""""$k":${if (v.isNaN || v.isInfinite) "null" else v.toString}"""
    case (k, v) => s""""$k":$v"""
  }.mkString("{", ",", "}")
}

/** One benchmark run in this JVM. */
final class Run(o: Main.Opts) {
  import Main._

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private val spark = session(o.work)
  private val listener = new StageListener
  if (o.trace) spark.sparkContext.addSparkListener(listener)
  private val tr = new Tracer(o.trace, spark.sparkContext)
  private val off = new Tracer(false, spark.sparkContext)

  private var attempted = 0
  private val failures = mutable.ArrayBuffer.empty[String]
  private var setupS = Double.NaN

  /** Records one checked operation. */
  private def op(name: String)(problems: Seq[String]): Unit = {
    attempted += 1
    problems.foreach(p => failures += s"$name: $p")
    problems.foreach(p => System.err.println(s"[check] $name: $p"))
  }

  private def markSetupDone(): Unit =
    if (setupS.isNaN) setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  /** Progress on standard error: seconds since JVM start. */
  private def progress(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.1f s $what")

  // ---- kg state -----------------------------------------------------

  private lazy val corpus = {
    val path = s"${o.work}/pages"
    val injected = Kg.writeCorpus(spark, o.seed, Pages, Partitions, path)
    progress("corpus written")
    val pages = spark.read.parquet(path)
    val ref = Kg.reference(spark, pages)
    op("reference")(Seq(Option.when(ref.quarantined != injected)(
      s"emitKeyed quarantined ${ref.quarantined} blocks, corpus has $injected malformed")).flatten)
    progress("reference computed")
    (pages, ref, injected)
  }
  private def pages: DataFrame = corpus._1
  private def ref = corpus._2
  private def injected = corpus._3
  private var outs = 0

  private def freshOut(): Kg.Paths = { outs += 1; Kg.Paths(s"${o.work}/out$outs") }

  private def delete(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val st = java.nio.file.Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f))
      finally st.close()
    }
  }

  /** One job whose pending count must equal `expectPending`. Returns its
    * wall time and old-generation peak. */
  private def kgJob(name: String, p: Kg.Paths, t: Tracer, expectPending: Long): (Double, Double) = {
    val input = pages // the corpus is set up on first use, outside the timing
    val (((nPending, pending), sec), heapMb) = Heap.measure(time(t.trace(name)(Kg.job(spark, input, p, t))))
    pending.unpersist()
    progress(f"$name $sec%.2f s")
    op(name)(Option.when(nPending != expectPending)(s"pending $nPending != expected $expectPending").toSeq ++
      (if (nPending == 0) Nil else Kg.check(spark, p, ref, injected)))
    (sec, heapMb)
  }

  private def resumePending: Long = Kg.ResumeBuckets.map(ref.pagesByKey.getOrElse(_, 0L)).sum

  /** Drop 8 buckets' manifest rows, resume, then rerun up to date. */
  private def resumeCycle(p: Kg.Paths, t: Tracer): ((Double, Double), Double) = {
    graft.pipeline.Lineage.deletePartitions(spark, p.manifest, Kg.ResumeBuckets) // a crash before publish
    val resumed = kgJob("kg_resume", p, t, resumePending)
    val (upToDate, _) = kgJob("kg_uptodate", p, t, 0L)
    (resumed, upToDate)
  }

  // ---- query state ----------------------------------------------------

  private lazy val auxReady = AuxTables.ensure(spark, o.data)

  /** One pass over [[Main.QuerySet]]: per-query seconds, failures counted. */
  private def queryPass(t: Tracer): Seq[(String, Double)] = {
    auxReady
    val all = SparkEntry.queries
    QuerySet.map { name =>
      val fn = all(name)
      val (ok, sec) = time(t.trace(s"query.$name") {
        QueryGuard.run(spark, name, QueryTimeoutMs)(fn(spark, o.data).count(): Unit)
      })
      op(name)(Option.when(!ok)("threw or timed out").toSeq)
      progress(f"$name $sec%.2f s")
      name -> sec
    }
  }

  // ---- host stamp -----------------------------------------------------

  /** Bench's CPU sentinel at a tenth of its row count, bound scaled alike. */
  private val sentinelBound = 3.0 * 32.0 / Cores / 10
  private def sentinel(): Double = time {
    spark.range(0L, 40000000L, 1L, Cores).select(expr("bit_xor(xxhash64(id))")).collect(): Unit
  }._2

  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ").take(3).mkString(" ")
    catch { case _: Exception => "n/a" }

  private def cpusAllowed(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().collectFirst {
        case l if l.startsWith("Cpus_allowed_list:") => l.split(":\\s*", 2)(1).trim
      }.getOrElse("n/a")
      finally src.close()
    } catch { case _: java.io.IOException => "n/a" }

  // ---- the run --------------------------------------------------------

  def apply(): Int = {
    val loadPre = loadavg()
    val metrics = if (o.trace) traced() else untraced()
    val sentinelPost = sentinel()
    val degraded = sentinelPre > sentinelBound || sentinelPost > sentinelBound
    val stamp = Map[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "nproc" -> Runtime.getRuntime.availableProcessors(), "cpus_allowed" -> cpusAllowed(),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
      "gc" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.toArray
        .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getName).mkString(","),
      "loadavg_pre" -> loadPre, "loadavg_post" -> loadavg(),
      "sentinel_pre_s" -> sentinelPre, "sentinel_post_s" -> sentinelPost,
      "sentinel_bound_s" -> sentinelBound, "degraded" -> degraded,
      "aux_cache" -> (if (o.workload == "query_session" || o.trace) "warm" else "unused"),
      "pages" -> Pages, "query_set" -> QuerySet.mkString(","),
      "failures" -> failures.mkString("; "))
    if (degraded)
      System.err.println("[sentinel] over bound: this run's timings reflect a degraded host window")
    println(json(Map("stamp" -> stamp)))
    val result = json(Map("correct" -> failures.isEmpty, "attempted" -> attempted,
      "failed" -> failures.size, "metrics" -> metrics.map { case (k, (v, u)) =>
        k -> Map[String, Any]("value" -> v, "unit" -> u) }))
    spark.stop()
    println(result)
    0
  }

  private var sentinelPre = Double.NaN

  /** Warm the sentinel's code and take the pre-measurement reading. */
  private def sentinelBeforeTiming(): Unit = {
    sentinel()
    sentinelPre = sentinel()
  }

  /** Runs `step` until `o.seconds` have passed (at least once). */
  private def repeat[A](step: => A): Seq[A] = {
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer.empty[A]
    while (out.isEmpty || (System.nanoTime() - t0) / 1e9 < o.seconds) out += step
    out.toSeq
  }

  private def untraced(): Map[String, (Double, String)] = {
    val samples: Seq[Double] = o.workload match {
      case "kg_cold" =>
        val warm = freshOut()
        kgJob("kg_cold", warm, off, Pages)
        delete(warm.out)
        sentinelBeforeTiming()
        markSetupDone()
        repeat {
          val p = freshOut()
          val (s, _) = kgJob("kg_cold", p, off, Pages)
          delete(p.out)
          s
        }
      case "query_session" =>
        queryPass(off)
        sentinelBeforeTiming()
        markSetupDone()
        repeat(queryPass(off).map(_._2).sum)
    }
    Map("job_s" -> (Stats.median(samples), "s"), "setup_s" -> (setupS, "s"))
  }

  /** Every operation once, traced: the workload's own operation after its
    * untraced warm-up, then the other layers' operations unwarmed, so
    * each traced run reports every per-layer metric. */
  private def traced(): Map[String, (Double, String)] = {
    val kgOwn = o.workload == "kg_cold"
    def tracedPass() = {
      val from = tr.spans.size
      val pass = queryPass(tr)
      (pass, tr.spans.drop(from).filter(_.parent == -1).toSeq)
    }
    if (kgOwn) {
      val warm = freshOut()
      kgJob("kg_cold", warm, off, Pages)
      delete(warm.out)
    } else queryPass(off)
    sentinelBeforeTiming()
    markSetupDone()
    val ownPass = if (kgOwn) None else Some(tracedPass())

    val cold = freshOut()
    val (coldS, heapMb) = kgJob("kg_cold", cold, tr, Pages)
    val coldSpan = tr.last("kg_cold").get
    val (files, bytes) = Seq(cold.triples, cold.manifest).map(Kg.du).reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    val outBytes = Seq(cold.triples, cold.adjacency, cold.manifest, cold.quarantine).map(Kg.du(_)._2).sum
    val adjacencyRows = spark.read.parquet(cold.adjacency).count()
    val ((resumeS, _), upToDateS) = resumeCycle(cold, tr)
    val resumeSpan = tr.last("kg_resume").get
    val (pass, queryRoots) = ownPass.getOrElse(tracedPass())
    val queryTotal = pass.map(_._2).sum
    val core = CoreProbe.run((0 until ProbePages).map(i => Kg.page(o.seed, i.toLong)))

    org.apache.spark.GraftbenchBus.drain(spark.sparkContext)
    def ids(ss: Seq[Tracer.Span]) = ss.flatMap(tr.subtree).map(_.id).toSet
    def engine(ss: Seq[Tracer.Span]) = {
      val i = ids(ss)
      EngineTotals(listener.jobsOf(i), listener.stagesOf(i), ss.map(_.seconds).sum, Cores)
    }
    def inSpan(root: Tracer.Span, name: String) = tr.subtree(root).filter(_.name == name)
    def secs(root: Tracer.Span, name: String) = inSpan(root, name).map(_.seconds).sum

    // emit and dedup share writeWithLineage's write action. Adaptive
    // execution materializes the persisted emit as its own stage (the one
    // with the most run time and neither shuffle nor file output); the
    // map stage with the largest shuffle write is the partial
    // aggregation; the stage that writes files is the final aggregation
    // plus the write.
    val writeStages = engine(inSpan(coldSpan, "lineage.write_audit")).stages
    val (reduce, rest) = writeStages.partition(_.outputBytes > 0)
    val partial = rest.maxBy(_.shuffleWrite)
    val emitCache = rest.filter(r => r.shuffleWrite == 0).maxBy(_.runMs)
    val session = engine(queryRoots)
    val (ownS, e) = if (kgOwn) (coldS, engine(Seq(coldSpan))) else (queryTotal, session)
    val mb = 1048576.0
    val m = mutable.LinkedHashMap[String, (Double, String)]()
    core.foreach { case (k, v) =>
      m(k) = (v, if (k.endsWith("_us") || k.endsWith("us_per_page")) "us" else if (k.endsWith("ratio")) "ratio" else "count")
    }
    m ++= Seq(
      "emit.s" -> ((emitCache.wallMs + partial.wallMs) / 1000.0, "s"),
      "emit.triples" -> (ref.emitted.toDouble, "count"),
      "emit.quarantined" -> (ref.quarantined.toDouble, "count"),
      "dedup.s" -> (reduce.map(_.wallMs).sum / 1000.0, "s"),
      "dedup.keep_ratio" -> (ref.triples.rows.toDouble / ref.emitted, "ratio"),
      "dedup.shuffle_write_mb" -> (partial.shuffleWrite / mb, "MB"),
      "dedup.spill_mb" -> ((partial.spill + reduce.map(_.spill).sum) / mb, "MB"),
      "lineage.pending_s" -> (secs(coldSpan, "lineage.pending"), "s"),
      "lineage.pending_pages" -> (Pages.toDouble, "count"),
      "lineage.write_audit_s" -> (secs(coldSpan, "lineage.write_audit"), "s"),
      "lineage.quarantine_sink_s" -> (secs(coldSpan, "lineage.quarantine_sink"), "s"),
      "lineage.publish_s" -> (secs(coldSpan, "lineage.publish"), "s"),
      "lineage.files" -> (files.toDouble, "count"),
      "lineage.written_mb" -> (bytes / mb, "MB"),
      "lineage.uptodate_s" -> (upToDateS, "s"),
      "adjacency.s" -> (secs(coldSpan, "adjacency"), "s"),
      "adjacency.rows" -> (adjacencyRows.toDouble, "count"),
      "adjacency.shuffle_write_mb" -> (engine(inSpan(coldSpan, "adjacency")).shuffleWriteMb, "MB"),
      "resume.job_s" -> (resumeS, "s"),
      "resume.pending_pages" -> (resumePending.toDouble, "count"),
      "resume.pending_s" -> (secs(resumeSpan, "lineage.pending"), "s"),
      "resume.write_s" -> (secs(resumeSpan, "lineage.write"), "s"),
      "resume.adjacency_s" -> (secs(resumeSpan, "adjacency"), "s"),
      "kg.job_s" -> (coldS, "s"),
      "kg.triples_per_s" -> (ref.triples.rows / coldS, "triples/s"),
      "kg.output_bytes_per_triple" -> (outBytes.toDouble / ref.triples.rows, "B"),
      "kg.heap_peak_mb" -> (heapMb, "MB"),
      "spark.jobs" -> (e.jobs.toDouble, "count"),
      "spark.stages" -> (e.stages.size.toDouble, "count"),
      "spark.tasks" -> (e.tasks.toDouble, "count"),
      "spark.executor_run_s" -> (e.runSeconds, "s"),
      "spark.utilization" -> (e.utilization, "ratio"),
      "spark.gc_s" -> (e.gcSeconds, "s"),
      "spark.shuffle_write_mb" -> (e.shuffleWriteMb, "MB"),
      "spark.spill_mb" -> (e.spillMb, "MB"),
      "spark.task_skew" -> (e.taskSkew, "ratio"),
      "trace.job_s" -> (ownS, "s"),
    )
    pass.foreach { case (name, s) => m(s"query.${name}_s") = (s, "s") }
    m ++= Seq(
      "session.queries_s" -> (queryTotal, "s"),
      "session.kg_queries_s" -> (pass.filter(_._1.startsWith("q_kg_")).map(_._2).sum, "s"),
      "session.jobs" -> (session.jobs.toDouble, "count"),
      "session.stages" -> (session.stages.size.toDouble, "count"),
      "session.shuffle_write_mb" -> (session.shuffleWriteMb, "MB"),
      "session.spill_mb" -> (session.spillMb, "MB"),
      "session.gc_s" -> (session.gcSeconds, "s"),
      "failed_ratio" -> (failures.size.toDouble / math.max(1, attempted), "ratio"),
    )
    writeTrace()
    m.toMap
  }

  /** Writes every span, once, after the run. */
  private def writeTrace(): Unit = {
    val dir = java.nio.file.Paths.get(o.work).getParent.getParent.resolve("traces")
    java.nio.file.Files.createDirectories(dir)
    val lines = tr.spans.map { s =>
      json(Map("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_s" -> tr.selfSeconds(s)))
    }
    val stages = listener.stagesOf(tr.spans.map(_.id).toSet).map { r =>
      json(Map("stage" -> r.stageId, "span" -> r.span, "wall_ms" -> r.wallMs, "run_ms" -> r.runMs,
        "tasks" -> r.taskMs.size, "gc_ms" -> r.gcMs, "shuffle_write_bytes" -> r.shuffleWrite,
        "spill_bytes" -> r.spill, "output_bytes" -> r.outputBytes))
    }
    java.nio.file.Files.write(dir.resolve(s"${o.workload}-seed${o.seed}.jsonl"),
      (lines ++ stages).mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
