package graft.tools

/** Dev utility: inspect or time registered queries by name.
  *
  *   QueryDebug explain <query>[,query...] [sfDir]   — physical plan dump
  *   QueryDebug time <sfDir> <query>[,query...] [reps] — wall-clock timing
  *
  * (Replaces the former throwaway graft.tmp.{Expl,TimeQ} mains.)
  */
object QueryDebug {
  def main(args: Array[String]): Unit = args(0) match {
    case "explain" => explain(args.drop(1))
    case "explainf" => explainf(args.drop(1))
    case "time"    => time(args.drop(1))
    case "audit"   => audit(args.drop(1))
    case "dump"    => dump(args.drop(1))
    case other =>
      sys.error(s"unknown mode '$other' (expected explain|explainf|time|audit|dump)")
  }

  /** explainf <names,comma-sep> <outDir> <suffix> [sfDir]: writes each
    * query's `.explain("formatted")` output to <outDir>/<name>_<suffix>.txt
    * — the plans/r16 optimization-evidence artifact. */
  private def explainf(args: Array[String]): Unit = {
    val names = args(0).split(",")
    val outDir = args(1)
    val suffix = args(2)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.01"
    val spark = graft.Sessions.local("graft-querydebug")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (n <- names) {
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"), txt)
      println(s"wrote $outDir/${n}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }

  /** dump <sfDir> <names,comma-sep> <outDir>: Verify's per-query parquet
    * dump for a subset — iterating on ONE oracle without a full Verify. */
  private def dump(args: Array[String]): Unit = {
    val Array(sfDir, names, outDir) = args
    val spark = graft.Sessions.local("graft-querydebug")
    for (n <- names.split(","))
      graft.SparkEntry.queries(n)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$n")
    spark.stop()
  }

  // raw source columns by substring; derived wide names (token arrays /
  // vectors / rewritten text, including self-join renames) exactly
  private val wideSub = Seq("text", "embedding")
  private val wideExact = Set("toks", "tok", "w", "word", "v", "u",
    "u_a", "u_b", "v_a", "v_b", "q_v", "c_v", "q_emb", "c_emb",
    "prior_u", "prior_v",
    "norm_text", "chunk_text", "scrubbed")
  private def isWide(n: String) =
    wideSub.exists(n.contains) || wideExact.contains(n)

  /** Wide PAYLOAD columns carried by each shuffle exchange of `df`'s
    * physical plan, one entry per offending exchange. A wide column that
    * is part of the exchange's PARTITIONING KEY is not flagged — keying
    * by a token/shingle is how inverted indexes and token aggregates
    * work; the scale-killer is wide data riding along as payload.
    * AQE-robust: an AdaptiveSparkPlanExec root is a LEAF whose real tree
    * sits in inputPlan, so the walk descends into it explicitly (a naive
    * foreach would visit nothing and pass vacuously — caught in review;
    * AuditSpec pins detection under both AQE settings). */
  private[graft] def wideShuffles(
      df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val found = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
        case e: ShuffleExchangeExec =>
          val keyNames = e.outputPartitioning match {
            case h: HashPartitioning => h.expressions.flatMap {
              case a: Attribute => Some(a.name.toLowerCase)
              case _ => None
            }.toSet
            case _ => Set.empty[String]
          }
          val carried = e.output.map(_.name.toLowerCase)
            .filter(n => isWide(n) && !keyNames.contains(n))
          if (carried.nonEmpty) found += carried
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    found.toSeq
  }

  /** Raw-width shuffle audit: for EVERY registered query, walk the
    * physical plan and flag any shuffle exchange whose output carries a
    * raw or derived wide column (text/embedding/token arrays/vectors) —
    * the scale-killer class (wide columns crossing the wire for
    * something an aggregate or narrow projection should have reduced
    * first). Exit code 1 on any non-allowlisted hit, AND on any query
    * that failed to plan (a broken audit must not read as a passing
    * one). */
  private def audit(args: Array[String]): Unit = {
    val spark = graft.Sessions.local("graft-querydebug",
      "spark.sql.adaptive.enabled" -> "false")
    // Walk build plans too: skipping localCheckpoint keeps index-build
    // lineage in the plan, so exchanges below materialization points —
    // the round-5 audit blind spot — are flagged like any other. The
    // allowlist below is then the ONLY justification record; in-code
    // comments no longer shield an exchange from the walk.
    graft.operators.Checkpoint.inlineForAudit = true
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    // Known-inherent wide shuffles — each entry must justify WHY the
    // operator cannot reduce the column before the exchange. Anything
    // not listed here fails the audit.
    val allowed = Map(
      "sim_knn_banded" -> (Set("v") ->
        ("band equi-join must deliver candidate vectors to the cosine " +
          "verify -- co-locating by band IS the operator")),
      "ta_boilerplate" -> (Set("w") ->
        ("one-time doc_id co-partitioning INVESTMENT before the index " +
          "checkpoint: the covered-position anti-join and reassembly " +
          "groupBy then plan shuffle-free on the exploded token side -- " +
          "strictly fewer bytes than re-shuffling every (doc_id, pos, " +
          "tok) row per consumer (round-5 measurement)")),
      // broadcast at fixture scale (no exchange in the audited plan);
      // listed for the at-scale shape, where the cell equi-join becomes
      // a co-partitioned SMJ: cluster-locality IS SemDeDup -- the
      // unit-dot verify needs both unit vectors in the cluster's
      // partition, and the unit vector IS the reduced representation
      // (64 doubles standing in for the document)
      "dedup_semantic" -> (Set("u", "prior_u") ->
        ("SemDeDup cell self-join must co-locate cluster members for " +
          "the within-cluster unit-dot verify -- the embedding is the " +
          "operator's reduced representation, never the raw text")),
      // Parallelism.floor exchanges (r17): round-robin repartition of
      // the streamed side of a QUADRATIC all-pairs stage, engaged only
      // when the scan provides fewer partitions than
      // spark.sql.shuffle.partitions (at real scale the scan is split
      // and NO exchange exists; the audit's sf0.01 single-file fixture
      // always engages it). Bytes moved are one linear pass of the
      // vector table vs |other side| x that in compute above -- the
      // one shape where manufacturing parallelism is always amortized
      // (measured sf1: eval_ann_recall 79 -> 19 s, dedup_embedding
      // 17.5 -> 4.1 s).
      "eval_ann_recall" -> (Set("v") ->
        ("parallelism floor for the exact-ground-truth all-pairs join " +
          "-- engaged only below the shuffle-partition count; one " +
          "linear vector pass vs |Q|x compute above it")),
      "dedup_embedding" -> (Set("u_a") ->
        ("parallelism floor for the all-pairs BNLJ baseline -- engaged " +
          "only below the shuffle-partition count; one linear vector " +
          "pass vs |corpus|x compute above it")))
    var hits = 0
    var errors = 0
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        wideShuffles(fn(spark, sfDir)).foreach { carried =>
          val justification = allowed.get(name)
            .collect { case (cs, why) if carried.forall(cs) => why }
          justification match {
            case Some(why) =>
              println(s"ALLOWED $name: ${carried.mkString(",")} — $why")
            case None =>
              hits += 1
              println(s"WIDE-SHUFFLE $name: ${carried.mkString(",")}")
          }
        }
      } catch { case e: Throwable =>
        errors += 1
        println(s"AUDIT-ERROR $name: ${e.getClass.getSimpleName}")
      }
    }
    println(s"audit: $hits wide shuffles, $errors errors across " +
      s"${graft.SparkEntry.queries.size} queries")
    spark.stop()
    if (hits > 0 || errors > 0) sys.exit(1)
  }

  private def explain(args: Array[String]): Unit = {
    val spark = graft.Sessions.local("graft-querydebug")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    for (n <- args(0).split(",")) {
      println(s"===== $n")
      println(graft.SparkEntry.queries(n)(spark, sfDir)
        .queryExecution.executedPlan.toString.take(3500))
    }
    spark.stop()
  }

  private def time(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = graft.Sessions.local("graft-querydebug")
    try graft.SparkEntry.entry(spark).count() catch { case _: Throwable => }
    // Contention-proof work counters per rep: the box's roaming
    // bandwidth co-tenant makes wall-clock A/Bs swing ±50%, while job/
    // stage/task counts and shuffle bytes are deterministic properties
    // of the executed plan — the primary optimization evidence.
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String)]()
    val nJobs = new java.util.concurrent.atomic.AtomicLong
    val nStages = new java.util.concurrent.atomic.AtomicLong
    val nTasks = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val shufWrite = new java.util.concurrent.atomic.AtomicLong
    val shufRead = new java.util.concurrent.atomic.AtomicLong
    val inputB = new java.util.concurrent.atomic.AtomicLong
    val stageLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          nJobs.incrementAndGet()
          jobs.put(j.jobId, (System.nanoTime(),
            Option(j.properties.getProperty("spark.job.description"))
              .getOrElse(j.stageInfos.headOption.map(_.name).getOrElse(""))))
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val st = jobs.remove(j.jobId)
          if (st != null) done.add((j.jobId,
            (System.nanoTime() - st._1) / 1e9, st._2))
        }
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          nStages.incrementAndGet()
          val m = s.stageInfo.taskMetrics
          if (m != null) {
            taskMs.addAndGet(m.executorRunTime)
            shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
            inputB.addAndGet(m.inputMetrics.bytesRead)
            if (m.executorRunTime >= 300)
              stageLog.add(f"stage${s.stageInfo.stageId}%-5d " +
                f"taskTime=${m.executorRunTime / 1000.0}%7.1f s " +
                f"tasks=${s.stageInfo.numTasks}%-4d " +
                f"shufR=${m.shuffleReadMetrics.totalBytesRead / 1048576.0}%7.1f MB " +
                f"in=${m.inputMetrics.bytesRead / 1048576.0}%7.1f MB  " +
                s.stageInfo.name.take(90))
          }
        }
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          nTasks.incrementAndGet()
      })
    val verbose = sys.env.get("GRAFT_TIME_JOBS").contains("1")
    for (r <- 1 to reps; n <- names) {
      done.clear(); stageLog.clear()
      Seq(nJobs, nStages, nTasks, taskMs, shufWrite, shufRead, inputB)
        .foreach(_.set(0L))
      val t0 = System.nanoTime()
      val cnt = graft.SparkEntry.queries(n)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // drain listener events deterministically: a fixed sleep under-
      // counted jobs/stages/shuffle on a loaded box (advisor round-16)
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark, 10000)
      println(f"rep$r $n%-28s $wall%6.2f s  rows=$cnt  " +
        f"jobs=${nJobs.get}%-3d stages=${nStages.get}%-3d tasks=${nTasks.get}%-5d " +
        f"taskTime=${taskMs.get / 1000.0}%7.1f s  " +
        f"shufW=${shufWrite.get / 1048576.0}%8.2f MB shufR=${shufRead.get / 1048576.0}%8.2f MB " +
        f"input=${inputB.get / 1048576.0}%8.2f MB")
      if (verbose) {
        done.forEach { case (id, secs, desc) =>
          if (secs >= 0.05)
            println(f"    job$id%-5d ${secs}%6.2f s  ${desc.take(110)}")
        }
        stageLog.forEach(l => println("    " + l))
      }
      // INVARIANT (advisor round-16): unpersisting locally-checkpointed
      // RDDs makes them unrecomputable — safe ONLY because every query
      // rebuilds its state per rep and the cross-call memo caches hold
      // collected driver values / on-disk paths, never live checkpointed
      // DataFrames. A future DataFrame-level cross-rep cache would crash
      // on rep 2 with missing checkpoint blocks if this line stays.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
