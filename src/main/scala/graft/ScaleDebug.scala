package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only scratch main for the r8 scale sweep investigation (deleted or
  * kept as a profiling harness; not part of the driver contract). Times
  * the q102 subtree phase by phase at an arbitrary SF dir. */
object ScaleDebug {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/scaledata/sf1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime; val r = f
      println(f"[t] $label: ${(System.nanoTime - t0) / 1e9}%.1f s"); r
    }
    if (args.lift(1).contains("qtime")) {
      // Generic warm-run profiler: run each named catalog query `n`
      // times in ONE session and print per-run wall clock — separates
      // build-once (memoized index) cost from the steady-state probe
      // cost Bench's min-of-samples should be seeing.
      val names = args.lift(2).map(_.split(",").toSeq).getOrElse(Nil)
      val n = args.lift(3).map(_.toInt).getOrElse(3)
      names.foreach { q =>
        (1 to n).foreach { i =>
          time(s"$q run$i")(SparkEntry.queries(q)(spark, dir)
            .write.format("noop").mode("overwrite").save())
        }
      }
      spark.stop(); return
    }
    if (args.lift(1).contains("prplan")) {
      // r16 optimization probe: the executed plan of ONE PageRank round
      // (pageRank(…, 1) = prStep∘prInit) — shows whether the EDGE-sized
      // join input pays an Exchange every round or arrives pre-hashed
      // from the loop-invariant checkpoint.
      val edges = graft.queries.TextOps.jaccardPairs(spark, dir)
        .select(col("da").as("u"), col("db").as("v"))
      val (e, degn) = graft.queries.TextOps.prGraph(graft.queries.Lineage.cut(edges))
      val pr0 = graft.queries.TextOps.prInit(degn)
        .localCheckpoint(eager = false)
      val one = graft.queries.TextOps.prStepBody(pr0, e, degn)
      time("pr 1 round")(one.collect())
      // collect() on the df itself (not a write copy) so this prints the
      // FINAL adaptive plan — the runtime join strategy, not the static
      // SMJ the initial plan shows
      println(one.queryExecution.executedPlan.toString)
      spark.stop(); return
    }
    if (args.lift(1).contains("ckpart")) {
      // Does repartition(col) + localCheckpoint carry HashPartitioning
      // into the LogicalRDD under AQE (i.e. can a loop-invariant frame
      // be pre-hashed ONCE)? Joins the checkpointed frame on the
      // partition key and prints whether its side pays an Exchange.
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      val base = spark.range(100000).select(col("id").as("k"),
        (col("id") % 7).as("w"))
      val probe = spark.range(1000).select(col("id").as("k"))
      def show(label: String, ck: org.apache.spark.sql.DataFrame): Unit = {
        val j = ck.join(probe, "k")
        j.write.format("noop").mode("overwrite").save()
        val nEx = j.queryExecution.executedPlan.toString
          .linesIterator.count(_.contains("Exchange hashpartitioning"))
        println(s"[ckpart] $label: $nEx hash exchanges")
      }
      show("lazy ckpt", base.repartition(col("k"))
        .localCheckpoint(eager = false))
      show("eager ckpt", base.repartition(col("k"))
        .localCheckpoint(eager = true))
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val ckNoAqe = base.repartition(col("k")).localCheckpoint(eager = false)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      show("lazy ckpt built with AQE off", ckNoAqe)
      spark.stop(); return
    }
    if (args.lift(1).contains("annrecall")) {
      // Recall of the capped vs uncapped blocked ANN where the cap BINDS
      // (the sf1 dense cluster): brute truth over the dense-cluster ids
      // (90M+) and the first 200 corpus ids, joined against both methods.
      import graft.queries.VectorOps._
      val truth = time("brute truth")(
        bruteBest(spark, dir, 200).localCheckpoint())
      def recall(name: String, m: org.apache.spark.sql.DataFrame): Unit = {
        val j = truth.join(
          m.select(col("vec_id").as("qid"), col("best").as("mbest")),
          Seq("qid"), "left")
        val r = j.agg(
          count(lit(1)).as("n"),
          count(when(col("mbest") === col("tbest"), lit(1))).as("hit"))
          .head()
        println(s"  $name: recall@1 = ${r.getLong(1)}/${r.getLong(0)}")
      }
      time("uncapped blocked")(recall("blocked", blockedBest(spark, dir)))
      time("capped blocked")(recall("blocked_capped",
        cappedBlockedBest(spark, dir)))
      spark.stop(); return
    }
    if (args.lift(1).contains("bm25fixed")) {
      // SCALE.md finding #5 measured: q120's sweep growth conflates a
      // 10x query set with a 10x corpus. Holding the WORKLOAD fixed
      // (qmod 1000 at sf1 selects ~52 query docs ≈ the ~50 that
      // qmod 100 selects at sf0.1) isolates the corpus term — the
      // fixed-workload growth at 10x data is the plan's real scaling.
      val qmod = if (dir.contains("sf1")) 1000 else 100
      val r = graft.queries.Retrieval.bm25TopK(spark, dir, qmod)
      println("  queries=" + r.select("qid").distinct().count())
      time(s"bm25TopK qmod=$qmod")(
        r.write.format("noop").mode("overwrite").save())
      time(s"bm25TopK qmod=$qmod (2nd)")(
        r.write.format("noop").mode("overwrite").save())
      spark.stop(); return
    }
    if (args.lift(1).contains("rrffixed")) {
      // VERDICT r10 #3: q131's sweep growth (16.9x at 10x data) was
      // asserted to be query-set-driven by analogy with q120, never
      // measured. Same mold as bm25fixed: qmod 1000 at sf1 selects a
      // ~50-doc query set comparable to qmod 100 at sf0.1, so the
      // fixed-workload growth at 10x data is the fusion plan's real
      // corpus scaling.
      val qmod = if (dir.contains("sf1")) 1000 else 100
      val r = graft.queries.Retrieval.rrfFusion(spark, dir, qmod)
      println("  queries=" + r.select("qid").distinct().count())
      time(s"rrfFusion qmod=$qmod")(
        r.write.format("noop").mode("overwrite").save())
      time(s"rrfFusion qmod=$qmod (2nd)")(
        r.write.format("noop").mode("overwrite").save())
      spark.stop(); return
    }
    if (args.lift(1).contains("synthfix")) {
      // VERDICT r9 #8: the fixpoint loops one more scale notch up —
      // a SYNTHETIC edge set ~100x sf1's pair multiplicity (default
      // 520k 11-cliques = 28.6M edges ≈ 100 x 286k, the r9 sf1 pair
      // count; the clique-of-replicas shape mirrors what near-dup
      // clustering actually feeds these loops) plus one 2047-node
      // chain so star contraction's round count exercises its
      // log-diameter term, not just clique depth-1. Set GRAFT_CC_DEBUG
      // for per-round times — flat per-round cost is the
      // checkpointFresh stats-reset claim at 2-3x the shipped loops'
      // round counts; round counts staying near the sf1 measurements
      // (6 cc / 17-47 pr; pagerank's round is on its INFO log line) is
      // the mixing-bound claim (pagerank's rate is the 0.85 damping
      // factor, graph-size-free; contraction is log-diameter).
      val nc = args.lift(2).map(_.toInt).getOrElse(520000)
      val k = 11
      val ij = spark.range(k).select(col("id").as("i"))
        .crossJoin(spark.range(k).select(col("id").as("j")))
        .where(col("i") < col("j"))
      val cliques = spark.range(nc).select((col("id") * k).as("b"))
        .crossJoin(ij)
        .select((col("b") + col("i")).as("u"), (col("b") + col("j")).as("v"))
      val base = nc.toLong * k
      val chain = spark.range(2047)
        .select((col("id") + base).as("u"), (col("id") + base + 1).as("v"))
      val edges = cliques.unionByName(chain).localCheckpoint()
      println("  edges=" + edges.count())
      val (labels, rounds) = time("starContraction @100x")(
        graft.queries.Components.starContractionWithRounds(edges))
      println("  cc rounds=" + rounds)
      time("labels count")(println("  labels=" + labels.count()))
      val pr = time("pageRankConverged @100x")(
        graft.queries.TextOps.pageRankConverged(edges))
      time("pr count")(println("  pr nodes=" + pr.count()))
      spark.stop(); return
    }
    if (args.lift(1).contains("bm25idx")) {
      // q178 probe decomposition at an arbitrary SF dir.
      import org.apache.spark.sql.functions.{broadcast, count => cnt}
      val (p, dpath) = graft.queries.Retrieval.bm25IndexDebug(spark, dir)
      val tf = spark.read.parquet(p).select("doc_id", "tok", "tf")
      println("  postings partitions=" + tf.rdd.getNumPartitions)
      time("scan postings")(
        tf.write.format("noop").mode("overwrite").save())
      val qt = tf.where(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("qid"), col("tok"))
      time("qt scan")(qt.write.format("noop").mode("overwrite").save())
      val tfq = tf.join(broadcast(qt.select("tok").distinct()), "tok")
      time("tfq semi")(tfq.write.format("noop").mode("overwrite").save())
      val pairs = tfq.join(broadcast(qt), "tok")
        .where(col("doc_id") =!= col("qid"))
      println("  pair rows=" + time("pair count")(pairs.count()))
      if (args.lift(2).contains("bisect")) {
        import graft.queries.Retrieval
        val tfP = tf
        val tfC = Retrieval.tfAndQtDebug(spark, dir)
        def qtOf(t: org.apache.spark.sql.DataFrame) =
          t.where(col("doc_id") % 100 === 0)
            .select(col("doc_id").as("qid"), col("tok"))
        def dlOf(t: org.apache.spark.sql.DataFrame) =
          t.groupBy("doc_id").agg(sum("tf").as("dl"))
        val dlP = spark.read.parquet(dpath)
        time("A tfP qtP dlP")(Retrieval.bm25Score(tfP, qtOf(tfP), dlP)
          .write.format("noop").mode("overwrite").save())
        time("B tfC qtC dlC")(Retrieval.bm25Score(tfC, qtOf(tfC), dlOf(tfC))
          .write.format("noop").mode("overwrite").save())
        time("C tfP qtC dlC")(Retrieval.bm25Score(tfP, qtOf(tfC), dlOf(tfC))
          .write.format("noop").mode("overwrite").save())
        time("D tfC qtP dlP")(Retrieval.bm25Score(tfC, qtOf(tfP), dlP)
          .write.format("noop").mode("overwrite").save())
        time("E tfP qtP dlC")(Retrieval.bm25Score(tfP, qtOf(tfP), dlOf(tfC))
          .write.format("noop").mode("overwrite").save())
        time("F tfP qtC dlP")(Retrieval.bm25Score(tfP, qtOf(tfC), dlP)
          .write.format("noop").mode("overwrite").save())
        spark.stop(); return
      }
      val lsn = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          println(f"  [stage ${si.stageId}%4d] tasks=${si.numTasks}%4d " +
            f"run=${si.taskMetrics.executorRunTime / 1000.0}%8.1fs " +
            f"cpu=${si.taskMetrics.executorCpuTime / 1e9}%8.1fs " +
            f"gc=${si.taskMetrics.jvmGCTime / 1000.0}%6.1fs " +
            si.name.take(60))
        }
      }
      spark.sparkContext.addSparkListener(lsn)
      val q178df = graft.queries.Retrieval.queries("q178_bm25_prebuilt")(spark, dir)
      time("q178 full probe")(
        q178df.write.format("noop").mode("overwrite").save())
      Thread.sleep(2000)
      println("  ======== q120 ========")
      val q120df = graft.queries.Retrieval.queries("q120_bm25_retrieval")(spark, dir)
      time("q120 full")(
        q120df.write.format("noop").mode("overwrite").save())
      Thread.sleep(2000)
      def dumpMetrics(tag: String, df: org.apache.spark.sql.DataFrame): Unit = {
        val sb = new StringBuilder
        val root = df.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan
          case p => p
        }
        root.foreach { n =>
          val ms = n.metrics.map { case (k, m) => s"$k=${m.value}" }
            .mkString(", ")
          sb.append(n.nodeName).append(" :: ").append(ms).append("\n")
        }
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"/tmp/${tag}_metrics.txt"), sb.toString)
      }
      dumpMetrics("q178", q178df)
      dumpMetrics("q120", q120df)
      spark.stop(); return
    }
    if (args.lift(1).contains("fanoutaudit")) {
      // VERDICT r11 #2: audit the SCALE.md #10 shape (fan-out join →
      // aggregate on a key other than the stream order) beyond the BM25
      // family. For each candidate the A/B is: the SHIPPED aggregate
      // over the join's natural (join-key-bucketed) stream vs the same
      // aggregate over an agg-key-clustered stream. Unlike BM25 — where
      // clustering was bought on the CHEAP pre-fan-out side (5.9M
      // postings) because the fan-out was a broadcast join that
      // preserves streamed order — these fan-outs are SHUFFLE self-
      // joins: the join's own exchange owns the stream order, so the
      // only constructible clustering is an extra exchange of the full
      // fan-out stream itself. The A/B therefore measures whether
      // aggregate locality could ever repay a fan-out-sized shuffle.
      import org.apache.spark.sql.DataFrame
      import graft.queries.{Affinity, Retrieval, TextOps}
      def ab(label: String, fan: DataFrame, key: org.apache.spark.sql.Column,
          agg: DataFrame => DataFrame): Unit = {
        println(s"== $label ==")
        if (args.lift(2).contains("counts")) {
          println("  fan-out rows = " + time(s"$label fan count")(fan.count()))
          println("  agg groups   = " +
            time(s"$label group count")(agg(fan).count()))
        }
        // two samples per variant, alternating, so JIT warmup and host
        // drift land on both sides; read the MIN of each pair.
        for (i <- 1 to 2) {
          time(s"$label natural#$i (shipped)")(
            agg(fan).write.format("noop").mode("overwrite").save())
          time(s"$label agg-key-clustered#$i")(
            agg(fan.repartition(key)).write.format("noop").mode("overwrite")
              .save())
        }
      }
      ab("q29", TextOps.q29FanOutDebug(spark, dir), col("da"),
        f => f.groupBy("da", "db").agg(count(lit(1)).as("shared")))
      ab("q123", Retrieval.q123FanOut(spark, dir), col("x.doc_id"),
        f => f.groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
          .agg(max(col("x.sz")).as("size_a"), count(lit(1)).as("inter")))
      ab("q150", Affinity.q150FanOutDebug(spark, dir), col("i"),
        f => f.groupBy("i", "j").agg(count(lit(1)).as("n_both")))
      spark.stop(); return
    }
    if (args.lift(1).contains("fanoutsort")) {
      // Round-12 follow-up to the r11 locality find: the executed plan
      // shows EliminateSorts drops bm25Score's sortWithinPartitions
      // (a local sort whose order the aggregate above destroys is
      // "redundant" to the optimizer), so the shipped win is PARTITION-
      // level clustering only. This leg isolates whether a SURVIVING
      // intra-partition sort buys more: the scored-posting relation is
      // materialized (eager localCheckpoint, which freezes physical row
      // order past the optimizer's reach) in three layouts — natural
      // scan order, doc_id-clustered, doc_id-clustered+sorted — and the
      // identical fan-out join + (qid, doc_id) aggregate is timed over
      // each. c's VALUE is irrelevant to locality, so tf stands in.
      import org.apache.spark.sql.DataFrame
      import graft.queries.Retrieval
      val tf = Retrieval.tfAndQtDebug(spark, dir)
      val qt = tf.where(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("qid"), col("tok")).localCheckpoint()
      val scored = tf
        .join(broadcast(qt.select("tok").distinct()), "tok")
        .select(col("tok"), col("doc_id"),
          col("tf").cast("decimal(28,12)").as("c"))
      // per-leg stage totals (run/cpu/gc/spill) — the mechanism data
      // behind the wall-clock: registered once, bucketed by leg label.
      val legTotals = scala.collection.mutable.Map
        .empty[String, (Double, Double, Double, Long)]
      @volatile var currentLeg = ""
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
              : Unit = {
            val m = sc.stageInfo.taskMetrics
            val (r, c, g, sp) =
              legTotals.getOrElse(currentLeg, (0.0, 0.0, 0.0, 0L))
            legTotals(currentLeg) = (r + m.executorRunTime / 1000.0,
              c + m.executorCpuTime / 1e9, g + m.jvmGCTime / 1000.0,
              sp + m.memoryBytesSpilled + m.diskBytesSpilled)
          }
        })
      def leg(label: String, p: DataFrame): Unit = {
        val in = p.localCheckpoint()
        in.count() // materialize outside the timed window
        // stage-completed events arrive ASYNC on the listener bus
        // (ADVICE r12): drain before switching legs so the
        // materialization's stages attribute to "" and none of this
        // leg's land on the next one.
        org.apache.spark.GraftListenerDrain.drain(spark.sparkContext)
        currentLeg = label
        time(label)(in.join(broadcast(qt), "tok")
          .where(col("doc_id") =!= col("qid"))
          .groupBy("qid", "doc_id").agg(sum("c").as("s"))
          .write.format("noop").mode("overwrite").save())
        org.apache.spark.GraftListenerDrain.drain(spark.sparkContext)
        val (r, c, g, sp) = legTotals.getOrElse(label, (0.0, 0.0, 0.0, 0L))
        println(f"    stages: run=$r%.1fs cpu=$c%.1fs gc=$g%.1fs " +
          f"spilled=${sp / 1e9}%.2fGB")
        currentLeg = ""
        in.unpersist(blocking = true) // no cross-leg memory pressure
      }
      // "rev" third arg flips leg order — order-effect control (JIT
      // warmup / GC state penalize whichever leg runs first).
      // "nat"/"clus"/"sort" run ONE leg, twice, in this JVM: the r13
      // synthpost runs exposed a ~5-12x FIRST-LEG penalty (heap growth
      // to -Xmx + JIT of the codegen'd agg loop) that shared-JVM leg
      // sequencing attributes to whichever layout runs first; sample #2
      // is the warm number comparable across single-leg JVMs.
      val legs = Seq(
        ("natural order", () => scored),
        ("doc-clustered (shipped)", () => scored.repartition(col("doc_id"))),
        ("doc-clustered + sorted", () => scored.repartition(col("doc_id"))
          .sortWithinPartitions("doc_id")))
      val ordered = args.lift(2) match {
        case Some("nat") => Seq(legs(0), legs(0))
        case Some("clus") => Seq(legs(1), legs(1))
        case Some("sort") => Seq(legs(2), legs(2))
        case Some("rev") => legs.reverse
        case _ => legs
      }
      ordered.zipWithIndex.foreach { case ((l, p), i) =>
        leg(s"$l #${i + 1}", p())
      }
      spark.stop(); return
    }
    if (args.lift(1).contains("synthpost")) {
      // VERDICT r12 #2: the lazy-checkpoint posture ONE NOTCH past sf1.
      // The claim under test ("the checkpoint is posting-sized, the
      // saved CPU is pair-sized — the gap widens with scale") was
      // measured only at the 10× notch; this leg builds a synthetic
      // postings relation at ~10× sf1's posting count (10 doc_id-shifted
      // copies of the REAL sf1 tf — same vocabulary, same df skew) while
      // HOLDING the query set at sf1 size (copy-0 docs, qmod 1000 ⇒
      // ~520 queries ⇒ pair count stays ~sf1's). That is the WORST case
      // for the checkpoint: its footprint grew 10× but the pair-sized
      // win did not — if the shipped layout still pays here, it pays
      // anywhere in the regime. Legs mirror the SHIPPED alternatives:
      //   A (gate-off path): fan-out + agg over the doc-clustered
      //     postings in-plan, no checkpoint (EliminateSorts takes any
      //     sort, exactly what ships below the corpus gate);
      //   B (shipped sf1+ path): lazy localCheckpoint of the clustered
      //     + sorted postings, materialized IN-LINE by the fan-out job.
      // Per-leg stage totals (run/cpu/gc/spill) via the drained listener
      // + the checkpoint RDD's block memory/disk split from storage
      // info. Both orders via the "rev" arg (JIT/page-cache control).
      import org.apache.spark.sql.DataFrame
      import graft.queries.Retrieval
      val copies = args.lift(2).flatMap(_.toIntOption).getOrElse(10)
      val OFF = 10000000L
      val tf0 = Retrieval.tfAndQtDebug(spark, dir)
      // The synthetic corpus goes through PARQUET, not an in-memory
      // localCheckpoint (round 14, VERDICT r13 #5): at 30 copies the
      // deserialized checkpoint blocks alone are ~5 GB and the build
      // OOMed the 8g JVM — a harness capacity bound that left the
      // tightest-memory cell unmeasured. A columnar spill costs one
      // write job and removes the corpus from the measured legs' memory
      // budget entirely (the real engine reads postings from parquet
      // too — q178's shape).
      val corpusPath = "target/scaledebug/synthpost_corpus"
      (0 until copies).map(k =>
          tf0.select((col("doc_id") + k * OFF).as("doc_id"),
            col("tok"), col("tf")))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(corpusPath)
      val tf = spark.read.parquet(corpusPath)
      println("  postings=" + tf.count())
      // The r14 sort-fit width, from the same rule the engine ships
      // (Retrieval.postingPartitions over documents-table bytes): this
      // corpus is `copies` doc-shifted copies of the sf1 postings, so
      // its docs-equivalent size is copies x the real table's bytes.
      val docsBytes = Retrieval.pathBytes(spark, s"$dir/documents.parquet")
        .getOrElse(0L) * copies
      val sizedParts = Retrieval.postingPartitions(spark, docsBytes)
      println(s"  docsEquivBytes=$docsBytes sizedParts=$sizedParts " +
        "(corpus parquet bytes=" +
        Retrieval.pathBytes(spark, corpusPath).getOrElse(-1L) + ")")
      val qt = tf.where(col("doc_id") % 1000 === 0 && col("doc_id") < OFF)
        .select(col("doc_id").as("qid"), col("tok")).localCheckpoint()
      println("  queries=" + qt.select("qid").distinct().count())
      // c's VALUE is irrelevant to layout cost (fanoutsort precedent):
      // tf stands in, cast to the shipped decimal width.
      val scored = tf
        .join(broadcast(qt.select("tok").distinct()), "tok")
        .select(col("tok"), col("doc_id"), col("tf").cast("decimal(28,12)").as("c"))
      val legTotals = scala.collection.mutable.Map
        .empty[String, (Double, Double, Double, Long)]
      @volatile var currentLeg = ""
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
              : Unit = {
            val m = sc.stageInfo.taskMetrics
            val (r, c, g, sp) =
              legTotals.getOrElse(currentLeg, (0.0, 0.0, 0.0, 0L))
            legTotals(currentLeg) = (r + m.executorRunTime / 1000.0,
              c + m.executorCpuTime / 1e9, g + m.jvmGCTime / 1000.0,
              sp + m.memoryBytesSpilled + m.diskBytesSpilled)
          }
        })
      def agg(in: DataFrame): DataFrame = in
        .join(broadcast(qt), "tok")
        .where(col("doc_id") =!= col("qid"))
        .groupBy("qid", "doc_id").agg(sum("c").as("s"))
      def leg(label: String, in: DataFrame,
          ckptOf: Option[DataFrame] = None): Unit = {
        org.apache.spark.GraftListenerDrain.drain(spark.sparkContext)
        // pre-leg cached set (tf/qt input checkpoints): the leg's OWN
        // lazy checkpoint is whatever appears beyond these.
        val pre = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
        currentLeg = label
        time(label)(agg(in).write.format("noop").mode("overwrite").save())
        org.apache.spark.GraftListenerDrain.drain(spark.sparkContext)
        val (r, c, g, sp) = legTotals.getOrElse(label, (0.0, 0.0, 0.0, 0L))
        println(f"    stages: run=$r%.1fs cpu=$c%.1fs gc=$g%.1fs " +
          f"spilled=${sp / 1e9}%.2fGB")
        ckptOf.foreach { d =>
          // the lazy checkpoint's RDD blocks, mem/disk split — the
          // "posting-sized footprint" half of the claim, observed.
          spark.sparkContext.getRDDStorageInfo
            .filter(i => !pre.contains(i.id) && i.numCachedPartitions > 0)
            .foreach { i =>
              println(f"    ckpt blocks: parts=${i.numCachedPartitions} " +
                f"mem=${i.memSize / 1e9}%.2fGB disk=${i.diskSize / 1e9}%.2fGB")
            }
          d.unpersist(blocking = true)
        }
        currentLeg = ""
      }
      // A/B ship-shaped legs carry the r14 corpus-sized width (what the
      // engine now constructs); A32/B32 pin the pre-r14 session width
      // (32) to reproduce the r13 cells the sizing rule was cut against.
      val legs = Seq[(String, () => (DataFrame, Option[DataFrame]))](
        ("A clustered, no checkpoint (gate-off ships this)",
          () => (scored.repartition(sizedParts, col("doc_id")), None)),
        ("B clustered+sorted via lazy checkpoint (sf1+ ships this)",
          () => {
            val d = scored.repartition(sizedParts, col("doc_id"))
              .sortWithinPartitions("doc_id").localCheckpoint(false)
            (d, Some(d))
          }),
        ("A32 clustered at fixed width 32 (pre-r14)",
          () => (scored.repartition(col("doc_id")), None)),
        ("B32 clustered+sorted at fixed width 32 (pre-r14)",
          () => {
            val d = scored.repartition(col("doc_id"))
              .sortWithinPartitions("doc_id").localCheckpoint(false)
            (d, Some(d))
          }))
      // Both-order same-JVM runs showed the FIRST leg pays a ~5-10x
      // single-JVM penalty (heap growth to -Xmx under allocation
      // pressure + JIT) that swamps the layout term at this notch —
      // forward order read A=3432s/B=276s CPU, reverse read
      // B=5031s/A=667s. "A"/"B" run ONE leg so each measurement gets
      // its own JVM and the comparison is warmup-symmetric; "rev"
      // keeps the (discredited) shared-JVM order control.
      // Single-leg mode runs the leg TWICE (fresh lazy checkpoint each
      // sample for B): #1 carries the per-JVM warmup, #2 is the warm
      // number comparable to how Bench and the driver actually run.
      val ordered = args.lift(3) match {
        case Some("A") => Seq(legs(0), legs(0))
        case Some("B") => Seq(legs(1), legs(1))
        case Some("A32") => Seq(legs(2), legs(2))
        case Some("B32") => Seq(legs(3), legs(3))
        case Some("rev") => legs.take(2).reverse
        case _ => legs.take(2)
      }
      ordered.zipWithIndex.foreach { case ((l, f), i) =>
        val (in, ck) = f(); leg(s"$l #${i + 1}", in, ck)
      }
      spark.stop(); return
    }
    if (args.lift(1).contains("bm25prune")) {
      // VERDICT r11 #4: the q178 bucket layout's partition pruning,
      // MEASURED instead of asserted. The shipped q178 workload derives
      // its query set from the whole corpus (~520 query docs at sf1),
      // whose combined vocabulary covers all 64 term-hash buckets — so
      // the catalog run can't show pruning. The serving case the layout
      // exists for is the opposite: a SHORT query (≈10 terms) whose
      // vocabulary maps to ≤8 buckets. This leg probes exactly that —
      // one query doc, its 8 lexicographically-first tokens, the bucket
      // set computed query-side and pushed as a partition predicate —
      // and reads files/bytes-read off the postings scan's metrics for
      // the pruned vs unpruned plan of the SAME workload.
      import graft.queries.Retrieval
      // driver-side twin of TextOps.h48 (md5 hex, first 12 nibbles) so
      // the bucket-set computation is a pure local map over ≤8 terms.
      def h48Local(prefix: String, s: String): Long = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest((prefix + s).getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex.substring(0, 12), 16)
      }
      val (pPath, dPath) = Retrieval.bm25IndexDebug(spark, dir)
      val post = spark.read.parquet(pPath)
      val dl = spark.read.parquet(dPath)
      // metrics must come from the SAME QueryExecution that ran —
      // df.write spawns its own QE, so drive the plan via collect()
      // (bounded: BM25_TOPK per query) and read the scans off it.
      def runAndScanStats(df: org.apache.spark.sql.DataFrame,
          tag: String): Unit = {
        time(s"$tag probe")(df.collect())
        // scans sit inside materialized AQE query stages, which are
        // leaves of the final adaptive plan — recurse through them.
        def scans(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
          p.collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec =>
              Seq(f)
            case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
              scans(qs.plan)
          }.flatten
        val root = df.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan
          case p => p
        }
        scans(root).filter(_.output.exists(_.name == "tok")).foreach { f =>
          println(s"  [$tag] postings scan: " +
            s"files=${f.metrics("numFiles").value} " +
            s"bytes=${f.metrics("filesSize").value} " +
            s"rows=${f.metrics("numOutputRows").value}")
        }
      }
      val qid0 = post.where(col("doc_id") % 100 === 0)
        .agg(min("doc_id")).head().getLong(0)
      val toks = post.where(col("doc_id") === qid0)
        .select("tok").distinct().orderBy("tok").limit(8)
        .collect().map(_.getString(0)).toSeq           // bounded: 8 terms
      import spark.implicits._
      val qtSmall = toks.toDF("tok").withColumn("qid", lit(qid0))
        .select("qid", "tok")
      val bkts = toks
        .map(t => java.lang.Math.floorMod(
          h48Local("bm25bkt:", t), 64L).toInt).distinct.sorted
      println(s"  query=$qid0 terms=${toks.length} " +
        s"buckets=${bkts.length}/64 -> ${bkts.mkString(",")}")
      val tfPruned = post
        .where(col("bkt").isin(bkts.map(Integer.valueOf): _*))
        .select("doc_id", "tok", "tf")
      def pruned() = Retrieval.bm25Score(tfPruned, qtSmall, dl)
      def full() = Retrieval.bm25Score(
        post.select("doc_id", "tok", "tf"), qtSmall, dl)
      // untimed warmup (JIT + codegen compile of the scoring pipeline),
      // then each variant twice, alternating, to wash out order effects.
      full().write.format("noop").mode("overwrite").save()
      runAndScanStats(pruned(), "pruned#1")
      runAndScanStats(full(), "unpruned#1")
      runAndScanStats(pruned(), "pruned#2")
      runAndScanStats(full(), "unpruned#2")
      spark.stop(); return
    }
    if (args.lift(1).contains("synthppr")) {
      // VERDICT r10 #5: the 100x synthetic notch only ever drove q104's
      // uniform-teleport step; q158's SEED-RESTART walk (left-join
      // frontier, per-seed teleport, 1/|S|-relative tolerance) shares
      // converge2 but not its step body or stop scale. Same edge set as
      // synthfix (520k 11-cliques + one 2047-chain = 28.6M edges); seeds
      // are doc_id % 10 == 0, ~10% of nodes, exactly the shipped rule.
      // The claim under test is round count ≪ PPR_CAP=80 (mixing-bound,
      // graph-size-free; the INFO log line reports the round reached).
      val nc = args.lift(2).map(_.toInt).getOrElse(520000)
      val k = 11
      val ij = spark.range(k).select(col("id").as("i"))
        .crossJoin(spark.range(k).select(col("id").as("j")))
        .where(col("i") < col("j"))
      val cliques = spark.range(nc).select((col("id") * k).as("b"))
        .crossJoin(ij)
        .select((col("b") + col("i")).as("u"), (col("b") + col("j")).as("v"))
      val base = nc.toLong * k
      val chain = spark.range(2047)
        .select((col("id") + base).as("u"), (col("id") + base + 1).as("v"))
      val edges = cliques.unionByName(chain).localCheckpoint()
      println("  edges=" + edges.count())
      val pr = time("pprConverged @100x")(
        graft.queries.TextOps.pprConverged(edges))
      time("ppr count")(println("  ppr nodes=" + pr.count()))
      spark.stop(); return
    }
    if (args.lift(1).contains("pagerank")) {
      // One full q104 run (the INFO log line reports the round reached):
      // confirms the convergence loop lands under PR_CAP at this scale
      // (iteration count is ~scale-free: both the initial delta and the
      // relative tolerance scale as 1/n).
      time("q104 converged")(
        graft.queries.TextOps.queries("q104_pagerank")(spark, dir)
          .write.format("noop").mode("overwrite").save())
      spark.stop(); return
    }
    val pairs = graft.queries.TextOps.jaccardPairs(spark, dir)
      .select(col("da").as("u"), col("db").as("v"))
    time("pairs count")(println("  pairs=" + pairs.count()))
    val (labels, rounds) = time("starContractionWithRounds (construction)")(
      graft.queries.Components.starContractionWithRounds(pairs))
    println("  rounds=" + rounds)
    time("labels count")(println("  labels=" + labels.count()))
    time("labels count AGAIN")(println("  labels=" + labels.count()))
    time("q65 full")(graft.queries.TextOps.queries("q65_dedup_clusters")(spark, dir)
      .write.format("noop").mode("overwrite").save())
    time("q102 full")(graft.queries.TextOps.queries("q102_cluster_safe_split")(spark, dir)
      .write.format("noop").mode("overwrite").save())
    spark.stop()
  }
}
