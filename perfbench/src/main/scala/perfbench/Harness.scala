package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.core.WordCount
import graft.sink.{DocSink, DocStoreChangelog, FileDocumentStoreFactory}
import graft.tools.FeedReplicate
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit, sum}

/** The JVM side of the benchmark: one closed-loop client driving the
  * engine's public entry points on `local[cores]`, timing each call from
  * outside and checking every output. `run.py` generates the inputs,
  * launches this once per run (a fresh JVM, so memo, JIT and session state
  * start the same every time) and turns the JSON it writes into metrics.
  *
  * Usage: Harness workload=<name> seconds=<s> trace=<0|1> cores=<n>
  *   work=<dir> out=<file> [input= expected= lookups=] [fixture= fixture2= fixture3= queries=]
  */
object Harness {
  val Collection = "corpus"
  val DocStore = "graft.sources.DocStoreDataSource"
  val BatchSize = 500

  def main(args: Array[String]): Unit = {
    val a = args.map { s =>
      val i = s.indexOf('=')
      require(i > 0, s"bad argument: $s")
      s.take(i) -> s.drop(i + 1)
    }.toMap
    val workload = a("workload")
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val work = a("work")
    Trace.runId = s"$workload/seed${a.getOrElse("seed", "0")}/trace${a("trace")}"
    Trace.enabled = traced
    val runStart = System.nanoTime()
    var spark: SparkSession = null
    val result = Trace.span("run") {
      // set-up is measured seven times; its median is setup_s
      val setupS = (1 to 7).map { i =>
        Trace.span("setup") {
          if (spark != null) spark.stop()
          val t0 = System.nanoTime()
          spark = session(cores)
          Trace.context = Some(spark.sparkContext)
          warmUp(spark)
          (System.nanoTime() - t0) / 1e9
        }
      }
      val measured: Map[String, Any] = workload match {
        case "wordcount_batched" => pipeline(spark, a, traced, batched = true)
        case "wordcount_naive"   => pipeline(spark, a, traced, batched = false)
        case "registry"          => registry(spark, a, traced)
        case "listener_selftest" => listenerSelftest(spark)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      measured + ("setup_s" -> setupS)
    }
    val out = result ++ Map(
      "run_id" -> Trace.runId,
      "wall_s" -> (System.nanoTime() - runStart) / 1e9,
      "retained_mb" -> retainedHeapMb(),
      "peak_rss_mb" -> peakRssMb(),
      "self_s" -> (if (traced) Trace.selfSeconds() else Map.empty))
    if (traced) {
      val spans = Trace.spans.asScala.toSeq.sortBy(_.startNs).map { s =>
        Map("run" -> Trace.runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_ns" -> (s.startNs - runStart), "end_ns" -> (s.endNs - runStart))
      }
      write(Paths.get(work, "spans.json"), Json(spans))
    }
    write(Paths.get(a("out")), Json(out))
    spark.stop()
  }

  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def warmUp(spark: SparkSession): Unit = {
    import spark.implicits._
    val lines = Seq("the quick brown fox", "jumps over the lazy dog", "", "the end")
    WordCount.countWords(lines.toDF("value")).collect()
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Counts every check and keeps the failed ones, rather than stopping at
    * the first. */
  final class Checks {
    var attempted = 0
    val failures = ArrayBuffer.empty[String]
    def apply(what: String, ok: => Boolean): Unit = {
      attempted += 1
      val passed = try ok catch { case e: Exception => failures += s"$what: $e"; return }
      if (!passed) failures += what
    }
    def json: Map[String, Any] =
      Map("attempted" -> attempted, "failed" -> failures.size, "failures" -> failures.take(20).toSeq)
  }

  // ---- the paper's pipeline: text -> tokenize -> count -> document store ----

  private def readTsv(p: String): Seq[(String, Long)] =
    Files.readAllLines(Paths.get(p), StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        val Array(k, v) = l.split("\t"); k -> v.toLong
      }

  private def pipeline(spark: SparkSession, a: Map[String, String], traced: Boolean,
      batched: Boolean): Map[String, Any] = {
    val input = a("input")
    val expected = readTsv(a("expected")).toMap
    val lookups = readTsv(a("lookups"))
    val tokens = expected.values.sum
    val words = expected.size.toLong
    val cores = a("cores").toInt
    val checks = new Checks
    val passes = ArrayBuffer.empty[Map[String, Any]]
    // The first three passes warm the JVM (JIT, codegen, the streaming
    // engine); they are checked but not measured. Measured passes follow
    // until `seconds` have passed, at least five, and the run reports their
    // medians; a traced run alternates traced and untraced ones, traced
    // first.
    val warmups = 3
    var deadline = Long.MaxValue
    var i = 0
    while (i < warmups + 5 || System.nanoTime() < deadline) {
      if (i == warmups) deadline = System.nanoTime() + (a("seconds").toDouble * 1e9).toLong
      val tracedPass = traced && i >= warmups && (i - warmups) % 2 == 0
      val dir = Paths.get(a("work"), "stores", s"pass$i")
      deleteTree(dir)
      flushFilesystem(a("work"))
      val (src, dst) = (dir.resolve("src").toString, dir.resolve("dst").toString)
      val store = new FileDocumentStoreFactory(src)
      val sinkFactory = if (tracedPass) new TimedStoreFactory(store) else store
      Trace.enabled = tracedPass
      Trace.resetCounters()
      val detach = if (tracedPass) Trace.attach(spark) else () => ()
      val lookupMs = ArrayBuffer.empty[Double]
      var summary: (Long, Long) = (0L, 0L)
      val lookupRows = ArrayBuffer.empty[Seq[Long]]
      var pipelineS, replicateS, scanS = 0.0
      val (_, passS) = timed {
        Trace.span("pass") {
          pipelineS = timed {
            Trace.span("pipeline") {
              val counts = WordCount.countWords(spark.read.textFile(input).toDF("value"))
              if (batched) DocSink.writeBatched(counts, sinkFactory, Collection, BatchSize)
              else DocSink.writeNaive(counts, sinkFactory, Collection)
            }
          }._2
          // Only the batched feed is replicated: the naive one holds an
          // entry per word, and the replica takes one trigger per entry.
          if (batched) replicateS = timed {
            Trace.span("replicate") {
              val name = s"replicate_p$i"
              Trace.streamParents.put(name, Trace.currentSpan._1)
              FeedReplicate.replicate(spark, src, dst, 1L, name)
            }
          }._2
          Trace.span("readback") {
            val docs = spark.read.format(DocStore).option("path", src).load()
            scanS = timed {
              Trace.span("scan") {
                val r = docs.agg(count(lit(1)), sum(col("count"))).head()
                summary = (r.getLong(0), r.getLong(1))
              }
            }._2
            lookups.foreach { case (id, _) =>
              val (rows, s) = timed {
                Trace.span("lookup") {
                  docs.where(col("doc_id") === id).select("count").collect().map(_.getLong(0)).toSeq
                }
              }
              lookupRows += rows
              lookupMs += s * 1000
            }
          }
        }
      }
      detach()
      val readbackS = passS - pipelineS - replicateS

      // output checks, outside the timed region
      val stored = store.readAll(Collection).map { case (k, v) => k -> v.getOrElse("count", -1L) }
      checks("store equals the expected counts", stored == expected)
      if (batched)
        checks("replica equals the source",
          new FileDocumentStoreFactory(dst).readAll(Collection) == store.readAll(Collection))
      checks("scan summary counts every doc and token", summary == ((words, tokens)))
      lookups.zip(lookupRows).foreach { case ((id, n), rows) =>
        checks(s"lookup $id", rows == (if (n > 0) Seq(n) else Nil))
      }
      val entries = DocStoreChangelog.latestComplete(src) + 1
      val commits = Trace.commits.size.toLong
      if (tracedPass) {
        checks("changelog entries equal sink commits", entries == commits)
        if (batched)
          checks("batched commits within the sum over partitions of ceil(N/500)",
            commits <= Trace.partitionDocs.asScala.map(n => (n + BatchSize - 1) / BatchSize).sum)
        else checks("naive commits equal the number of words", commits == words)
      } else {
        if (batched)
          checks("batched feed entries within ceil(V/500) + partitions",
            entries <= (words + BatchSize - 1) / BatchSize + cores)
        else checks("naive feed entries equal the number of words", entries == words)
      }
      val layers =
        if (!tracedPass) Map.empty[String, Any]
        else pipelineLayers(passS, cores, tokens, entries,
          (0L until entries).map(s => Files.size(DocStoreChangelog.entryPath(src, s))).sum,
          scanS, lookupMs.toSeq)
      passes += Map("warmup" -> (i < warmups), "traced" -> tracedPass, "pass_s" -> passS,
        "pipeline_s" -> pipelineS,
        "replicate_s" -> replicateS, "readback_s" -> readbackS, "scan_s" -> scanS,
        "ops_ms" -> lookupMs.toSeq, "layers" -> layers)
      deleteTree(dir)
      i += 1
    }
    Map("passes" -> passes.toSeq, "checks" -> checks.json,
      "tokens" -> tokens, "words" -> words)
  }

  private def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
    }

  private def mb(bytes: Long): Double = bytes / 1048576.0

  private def sparkLayer(wallS: Double, cores: Int): Map[String, Any] = {
    val st = Trace.stages.asScala.toSeq
    val runS = st.map(_.runMs).sum / 1e3
    Map(
      "spark.jobs" -> Trace.jobs.get,
      "spark.stages" -> st.size,
      "spark.tasks" -> st.map(_.tasks).sum,
      "spark.task_run_s" -> runS,
      "spark.task_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "spark.core_util" -> runS / (wallS * cores),
      "spark.shuffle_write_mb" -> mb(st.map(_.shuffleWrite).sum),
      "spark.shuffle_read_mb" -> mb(st.map(_.shuffleRead).sum),
      "spark.spill_mb" -> mb(st.map(_.spill).sum),
      "spark.input_mb" -> mb(st.map(_.input).sum))
  }

  private def pipelineLayers(passS: Double, cores: Int, tokens: Long, entries: Long,
      entryBytes: Long, scanS: Double, lookupMs: Seq[Double]): Map[String, Any] = {
    val st = Trace.stages.asScala.toSeq.filter(_.span == "pipeline")
    val (map, sink) = st.partition(_.shuffleWrite > 0)
    val commitMs = Trace.commits.asScala.toSeq.map(c => (c.endNs - c.startNs) / 1e6)
    val docs = Trace.commits.asScala.map(_.docs.toLong).sum
    val trig = Trace.triggers.asScala.toSeq
    sparkLayer(passS, cores) ++ Map(
      "core.map_s" -> map.map(_.durationMs).sum / 1e3,
      "core.map_cpu_s" -> map.map(_.cpuNs).sum / 1e9,
      "core.shuffle_write_mb" -> mb(map.map(_.shuffleWrite).sum),
      "core.tokens" -> tokens,
      "core.words" -> docs,
      "sink.commits" -> commitMs.size,
      "sink.docs" -> docs,
      "sink.docs_per_commit" -> (if (commitMs.isEmpty) 0.0 else docs.toDouble / commitMs.size),
      "sink.commit_p50_ms" -> pct(commitMs, 0.5),
      "sink.commit_p90_ms" -> pct(commitMs, 0.9),
      "sink.commit_p99_ms" -> pct(commitMs, 0.99),
      "sink.busy_s" -> commitMs.sum / 1e3,
      "sink.opens" -> Trace.opens.get,
      "sink.stage_s" -> sink.map(_.durationMs).sum / 1e3,
      "changelog.entries" -> entries,
      "changelog.bytes" -> entryBytes,
      "sources.microbatches" -> trig.size,
      "sources.feed_rows" -> trig.map(_.rows).sum,
      "sources.trigger_p50_ms" -> pct(trig.map(_.durationMs.toDouble), 0.5),
      "sources.trigger_p90_ms" -> pct(trig.map(_.durationMs.toDouble), 0.9),
      "sources.scan_s" -> scanS,
      "sources.lookup_p50_ms" -> pct(lookupMs, 0.5),
      "sources.lookup_p90_ms" -> pct(lookupMs, 0.9),
      "plans.plan_s" -> Trace.planNs.get / 1e9)
  }

  // ---- the query registry ----

  private def registry(spark: SparkSession, a: Map[String, String], traced: Boolean): Map[String, Any] = {
    val names = Files.readAllLines(Paths.get(a("queries"))).asScala.toSeq.map(_.trim).filter(_.nonEmpty)
    val registered = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val unknown = names.filterNot(registered.contains)
    require(unknown.isEmpty, s"queries not in the registry: ${unknown.mkString(", ")}")
    val sc = spark.sparkContext
    val cores = a("cores").toInt
    // Registry memos are keyed by fixture path, so each pass of the traced
    // run reads its own identical copy of the fixture: a cold untraced pass
    // (as in an untraced run, and not measured), a traced one and an
    // untraced one to measure the overhead against.
    def pass(dir: String, tracedPass: Boolean, warmup: Boolean = false): Map[String, Any] = {
      Trace.enabled = tracedPass
      Trace.resetCounters()
      val detach = if (tracedPass) Trace.attach(spark) else () => ()
      var materializations = 0L
      var materializedBytes = 0L
      val queries = names.map { name =>
        val fn = registered(name)
        var buildS, execS = 0.0
        var rows = -1L
        var error = ""
        Trace.span(s"query:$name") {
          try {
            val (df, b) = timed(Trace.span("build")(fn(spark, dir)))
            buildS = b
            val (n, e) = timed(Trace.span("execute")(df.count()))
            execS = e
            rows = n
          } catch { case e: Exception => error = e.toString.take(300) }
        }
        if (tracedPass) {
          val persisted = sc.getPersistentRDDs
          materializations += persisted.size
          materializedBytes += sc.getRDDStorageInfo
            .filter(i => persisted.contains(i.id)).map(i => i.memSize + i.diskSize).sum
        }
        // per-query isolation, untimed, as the registry's own bench does
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        Map("name" -> name, "build_s" -> buildS, "exec_s" -> execS, "rows" -> rows,
          "error" -> error, "oracle_sql" -> oracles.getOrElse(name, ""),
          "rows_only" -> SparkEntry.rowsOnlyPinnedBy.contains(name))
      }
      detach()
      val wallS = queries.map(q => q("build_s").asInstanceOf[Double] + q("exec_s").asInstanceOf[Double]).sum
      val layers =
        if (!tracedPass) Map.empty[String, Any]
        else sparkLayer(wallS, cores) ++ Map(
          "queries.build_s" -> queries.map(_("build_s").asInstanceOf[Double]).sum,
          "queries.build_jobs" -> Trace.buildJobs.get,
          "tables.infer_jobs" -> Trace.tablesJobs.get,
          "plans.plan_s" -> Trace.planNs.get / 1e9,
          "operators.materializations" -> materializations,
          "operators.materialized_mb" -> mb(materializedBytes))
      Map("warmup" -> warmup, "traced" -> tracedPass, "pass_s" -> wallS,
        "ops_ms" -> queries.map(q => (q("build_s").asInstanceOf[Double] + q("exec_s").asInstanceOf[Double]) * 1000),
        "queries" -> queries, "layers" -> layers)
    }
    val passes =
      if (!traced) Seq(pass(a("fixture"), tracedPass = false))
      else Seq(pass(a("fixture"), tracedPass = false, warmup = true),
        pass(a("fixture2"), tracedPass = true), pass(a("fixture3"), tracedPass = false))
    Map("passes" -> passes)
  }

  /** A known shuffle job, for the benchmark's own tests of the listener. */
  private def listenerSelftest(spark: SparkSession): Map[String, Any] = {
    Trace.enabled = true
    Trace.resetCounters()
    val detach = Trace.attach(spark)
    val (_, s) = timed(Trace.span("execute") {
      spark.range(0L, 200000L, 1L, 4).groupBy(col("id") % 10).count().collect()
    })
    detach()
    Map("layers" -> sparkLayer(s, 1))
  }

  // ---- small helpers ----

  /** Heap still live after a full collection, with the session open: what
    * the engine keeps (memos, cached state) once the measured work is done. */
  private def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc()
    Thread.sleep(1000) // lets Spark's cleaner drop state whose handles died
    System.gc()
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The stores live on the checkout's filesystem. Each pass's store is
    * deleted once the pass is checked, and the next pass starts by writing
    * that deletion back, so every measured pass starts in the same state.
    * Deleting a whole run's stores only at its end left the filesystem slow
    * well into the next run. */
  private def flushFilesystem(dir: String): Unit =
    new ProcessBuilder("sync", "-f", dir).inheritIO().start().waitFor()

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  private def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal JSON encoder for the harness's result maps. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
