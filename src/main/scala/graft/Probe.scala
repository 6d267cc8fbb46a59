package graft

/** Scratch main for plan experiments (not part of the library API).
  * Runs on the bench session ([[Bench.localSession]], sized by
  * `SPARK_GRAFT_CPUS`), so its numbers read against bench numbers. */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = Bench.localSession()
    spark.sparkContext.setLogLevel("ERROR")
    args.headOption match {
      case Some("hotcell") =>
        // corpus-scale hot-cell measurement for the GEOCHECK ledger:
        // build a sqrt(n)-cell index over a dir's embeddings and
        // print the capacity signal (usage: Probe hotcell <sfDir>)
        import org.apache.spark.sql.functions._
        val dir = args(1)
        val e = Tables.embeddings(spark, dir)
          .select(col("vec_id").as("id"),
            graft.functions.VectorFunctions.toDouble(col("embedding")).as("vec"))
        val nv = e.count()
        val cells = math.max(2, math.ceil(math.sqrt(nv.toDouble)).toInt)
        val idx = java.nio.file.Files.createTempDirectory("probe_hotcell").toString
        sim.AnnIndex.build(e, nCells = cells, seed = 42L, dir = idx)
        val sig = sim.AnnIndex.hotCellSignal(spark, idx)
        println(s"[probe] hotcell $dir nCells=$cells " +
          s"nVec=${sig.nVec} maxCell=${sig.maxCell} target=${sig.target} " +
          s"hot=${sig.hot} suggested=${sig.suggestedNCells}")
        // r15: the automated remedy, measured at the same corpus scale
        // — run the split loop to its fixpoint and report the restored
        // signal (GEOCHECK hot_cell_gate post-split entry)
        if (sig.hot) {
          val t0 = System.nanoTime()
          val reps = Iterator.continually(sim.AnnIndex.splitHotCells(spark, idx))
            .take(5).takeWhile(_.splitCells > 0).toVector
          val sec = (System.nanoTime() - t0) / 1e9
          val post = sim.AnnIndex.hotCellSignal(spark, idx)
          println(f"[probe] hotcell-split $dir passes=${reps.size} " +
            f"split=${reps.map(_.splitCells).sum} " +
            f"newCells=${reps.map(_.newCells).sum} " +
            f"refused=${reps.map(_.refused).sum} sec=$sec%.1f " +
            s"postMaxCell=${post.maxCell} postTarget=${post.target} " +
            s"postNCells=${spark.read.parquet(s"$idx/centroids").count()} " +
            s"postHot=${post.hot}")
        }
      case Some("s25") =>
        // attribute the one-pass matryoshka audit (usage: Probe s25 <sfDir>)
        import org.apache.spark.sql.functions._
        val dir = args(1)
        val e = graft.Tables.embeddings(spark, dir)
          .select(col("vec_id").as("id"),
            graft.functions.VectorFunctions.toDouble(col("embedding")).as("vec"))
        val t0 = System.nanoTime()
        val out = LlmQueries.matryoshkaAudit(e, k = 5)
        out.write.mode("overwrite").format("noop").save()
        println(f"[probe] s25 $dir total=${(System.nanoTime() - t0) / 1e9}%.1f s")
        // inner pipeline replica for plan/timing attribution
        import org.apache.spark.sql.expressions.Window
        import graft.functions.PrefixDots.prefixDots
        import graft.functions.VectorFunctions.cosinePrenormed
        val dim = e.select(size(col("vec"))).head().getInt(0)
        val n = e.count()
        val mod = graft.sim.Ann.auditSampleMod(n, 25L, 256L)
        val widths = Seq(dim / 4, dim / 2, dim).distinct.filter(_ >= 1).sorted
        val c = graft.sim.Ann.spreadCorpus(e)
          .select(col("id").as("neighbor_id"), col("vec").as("cvec"))
          .withColumn("cn2", prefixDots(col("cvec"), col("cvec"), widths))
        val q = e.filter(pmod(col("id"), lit(mod)) === 0)
          .select(col("id").as("qid"), col("vec").as("qvec"))
          .withColumn("qn2", prefixDots(col("qvec"), col("qvec"), widths))
        val exploded = c.crossJoin(broadcast(q))
          .filter(col("neighbor_id") =!= col("qid"))
          .select(col("qid"), col("neighbor_id"), col("qn2"), col("cn2"),
            posexplode(prefixDots(col("qvec"), col("cvec"), widths))
              .as(Seq("wi", "dotw")))
          .withColumn("qn2w", element_at(col("qn2"), col("wi") + 1))
          .withColumn("cn2w", element_at(col("cn2"), col("wi") + 1))
          .filter(col("qn2w") > 0 && col("cn2w") > 0)
          .withColumn("sim", cosinePrenormed(col("dotw"),
            sqrt(col("qn2w")), sqrt(col("cn2w"))))
        val t1 = System.nanoTime()
        val s = exploded.agg(sum("sim")).head().getDouble(0)
        println(f"[probe] s25 join+explode only: ${(System.nanoTime() - t1) / 1e9}%.1f s (simsum=$s%.1f)")
        val w = Window.partitionBy("wi", "qid")
          .orderBy(col("sim").desc, col("neighbor_id").asc)
        val topk = exploded.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("wi"), col("qid"), col("neighbor_id"))
        val t2 = System.nanoTime()
        topk.write.mode("overwrite").format("noop").save()
        println(f"[probe] s25 join+explode+window: ${(System.nanoTime() - t2) / 1e9}%.1f s")
        val plan = topk.queryExecution.executedPlan.toString
        println(s"[probe] s25 WindowGroupLimit in topk plan: " +
          plan.contains("WindowGroupLimit"))
        println(plan.split('\n').take(40).mkString("[probe-plan] ",
          "\n[probe-plan] ", ""))
      case Some("s14") =>
        // attribute the recall audit: exact brute-force side vs the
        // calibrated IVF side vs the grading join
        // (usage: Probe s14 <sfDir>)
        import org.apache.spark.sql.functions._
        import graft.functions.VectorFunctions.toDouble
        val dir = args(1)
        val e = graft.Tables.embeddings(spark, dir)
          .select(col("vec_id").as("id"), toDouble(col("embedding")).as("vec"))
        val n = e.count()
        val mod = sim.Ann.auditSampleMod(n)
        val sample = e.filter(pmod(col("id"), lit(mod)) === 0)
        println(s"[probe] s14 $dir n=$n mod=$mod sample=${sample.count()}")
        val t0 = System.nanoTime()
        sim.Ann.bruteForceTopK(e, sample, k = 10)
          .write.mode("overwrite").format("noop").save()
        println(f"[probe] s14 exact side: ${(System.nanoTime() - t0) / 1e9}%.1f s")
        val t1 = System.nanoTime()
        sim.Ann.ivfTopKAuto(e, sample, k = 10, seed = 42L)
          .write.mode("overwrite").format("noop").save()
        println(f"[probe] s14 ivf side: ${(System.nanoTime() - t1) / 1e9}%.1f s")
        val t2 = System.nanoTime()
        LlmQueries.s14AnnRecallAudit(spark, dir)
          .write.mode("overwrite").format("noop").save()
        println(f"[probe] s14 full query: ${(System.nanoTime() - t2) / 1e9}%.1f s")
      case Some("d13") =>
        // attribute SemDeDup: driver fit vs assignment vs pair stage
        // (usage: Probe d13 <sfDir>)
        import org.apache.spark.sql.functions._
        import graft.functions.VectorFunctions.toDouble
        val dir = args(1)
        val e = graft.Tables.embeddings(spark, dir)
          .select(col("vec_id").as("id"), toDouble(col("embedding")).as("v"))
        val live = e.withColumn("nrm",
            expr("sqrt(aggregate(v, 0d, (a, x) -> a + x * x))"))
          .filter(col("nrm") > 0)
        val n = live.count()
        val nCells = math.min(1024, math.max(8, (n / 32L).toInt))
        val cap = math.max(8192L, nCells.toLong * 8)
        val sampled = if (n <= cap) live
          else live.filter(pmod(xxhash64(col("id")), lit(n / cap + 1)) === 0)
        val t0 = System.nanoTime()
        val samples = sampled.orderBy("id").select(col("v"), col("nrm")).collect()
          .map { r => val v = r.getSeq[Double](0); val nr = r.getDouble(1)
            v.map(_ / nr).toArray }
        val tCollect = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val books = (0 until 4).map { t =>
          graft.functions.ProductQuantizer.fit(samples, m = 1, ksub = nCells,
            0xd13L + 1000003L * t)
        }
        val tFit = (System.nanoTime() - t1) / 1e9
        println(f"[probe] d13 $dir n=$n nCells=$nCells samples=${samples.length} " +
          f"collect=$tCollect%.1f s fit=$tFit%.1f s")
        val assigned = live
          .withColumn("cells", array(books.map { cb =>
            element_at(graft.functions.ProductQuantizer
              .pqEncode(col("v"), col("nrm"), cb), 1).cast("long")
          }: _*))
          .repartition(col("id"))
        val t2 = System.nanoTime()
        assigned.write.mode("overwrite").format("noop").save()
        println(f"[probe] d13 assign: ${(System.nanoTime() - t2) / 1e9}%.1f s")
        val t3 = System.nanoTime()
        LlmQueries.d13SemDedup(spark, dir)
          .write.mode("overwrite").format("noop").save()
        println(f"[probe] d13 full query: ${(System.nanoTime() - t3) / 1e9}%.1f s")
      case Some("d07") =>
        // attribute the LSH near-dup pipeline: bucket signatures vs
        // candidate self-join vs prefilter vs exact verify
        // (usage: Probe d07 <sfDir>)
        import org.apache.spark.sql.functions._
        import graft.functions.VectorFunctions.toDouble
        val dir = args(1)
        val e = graft.Tables.embeddings(spark, dir)
          .select(col("vec_id").as("id"), toDouble(col("embedding")).as("vec"))
        val n = e.count()
        val nBits = sim.Ann.bitsForOccupancy(n, 32L)
        val nTables = sim.Ann.tablesForRecall(0.44, nBits, 0.95)
        println(s"[probe] d07 $dir n=$n nBits=$nBits nTables=$nTables")
        val v = e.select(col("id"), col("vec").as("v"))
          .withColumn("nrm", expr("sqrt(aggregate(v, 0d, (a, x) -> a + x * x))"))
          .filter(col("nrm") > 0).repartition(col("id"))
        val t0 = System.nanoTime()
        val nc = sim.Ann.lshCandidates(v, nBits, nTables, 64, 0xd07L).count()
        println(f"[probe] d07 candidates=$nc in ${(System.nanoTime() - t0) / 1e9}%.1f s")
        val t1 = System.nanoTime()
        LlmQueries.d07EmbedNearDupLsh(spark, dir)
          .write.mode("overwrite").format("noop").save()
        println(f"[probe] d07 full query: ${(System.nanoTime() - t1) / 1e9}%.1f s")
      case Some("knngraph") =>
        // attribute the IVF graph build's cost: quantizer fit vs the
        // cell self-join + window (usage: Probe knngraph <sfDir>)
        import org.apache.spark.sql.functions._
        val dir = args(1)
        val e = graft.Tables.embeddings(spark, dir)
          .select(col("vec_id").as("id"),
            graft.functions.VectorFunctions.toDouble(col("embedding")).as("vec"))
        val live = e.withColumn("nrm0",
            graft.functions.VectorFunctions.norm(col("vec")))
          .filter(col("nrm0") > 0)
        val n = live.count()
        val nCells = math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt)
        val t0 = System.nanoTime()
        val cs = sim.Ann.fitCentroids(live, n, nCells, 42L, 100000L)
        val tFit = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        sim.Ann.knnGraph(e, k = 5, seed = 42L)
          .write.mode("overwrite").format("noop").save()
        val tAll = (System.nanoTime() - t1) / 1e9
        println(f"[probe] knngraph $dir n=$n nCells=$nCells " +
          f"fit=$tFit%.1f s total=$tAll%.1f s join+window=${tAll - tFit}%.1f s")
        // candidate volume + cell-population skew of the same build —
        // served from the timed fit above (refitting here doubled the
        // probe's own wall time on large dirs; the fit is seeded, so
        // the reused centroids are the ones knnGraph derives anyway)
        import graft.functions.CentroidCells.centroidCells
        val nProbe = math.max(3, math.ceil(math.sqrt(nCells.toDouble)).toInt)
        val cells = live.withColumn("cell",
          element_at(centroidCells(col("vec"), col("nrm0"), cs, 1), 1))
        val pops = cells.groupBy("cell").agg(count(lit(1)).as("m"))
        val probes = live.select(
          explode(centroidCells(col("vec"), col("nrm0"), cs, nProbe)).as("cell"))
        val cand = probes.join(pops, "cell").agg(sum("m")).head().getLong(0)
        val mx = pops.agg(max("m")).head().getLong(0)
        println(s"[probe] knngraph candidates=$cand nProbe=$nProbe maxCell=$mx " +
          s"meanCell=${n / nCells}")
        // which half is slow: the cell join + dot, or the qid window?
        import graft.functions.VectorFunctions.{cosinePrenormed, dot => vdot}
        val cside = cells.select(col("id").as("neighbor_id"),
          col("vec").as("cvec"), col("nrm0").as("cnrm"), col("cell"))
        val qside = live.select(col("id").as("qid"), col("vec").as("qvec"),
            col("nrm0").as("qnrm"))
          .withColumn("cell",
            explode(centroidCells(col("qvec"), col("qnrm"), cs, nProbe)))
        val scored = cside.join(qside, Seq("cell"))
          .filter(col("neighbor_id") =!= col("qid"))
          .withColumn("sim", cosinePrenormed(
            vdot(col("qvec"), col("cvec")), col("qnrm"), col("cnrm")))
        val t2 = System.nanoTime()
        val s = scored.agg(sum("sim")).head().getDouble(0)
        println(f"[probe] knngraph join+dot only: " +
          f"${(System.nanoTime() - t2) / 1e9}%.1f s (simsum=$s%.1f)")
        val plan = sim.Ann.knnGraph(e, k = 5, seed = 42L)
          .queryExecution.executedPlan.toString
        println(s"[probe] knngraph WindowGroupLimit in plan: " +
          plan.contains("WindowGroupLimit"))
        println(plan.split('\n').take(40).mkString("[probe-plan] ",
          "\n[probe-plan] ", ""))
      case Some("annidx") =>
        // attribute the s17/s19 index-lifecycle queries: quantizer fit
        // vs index write vs sweep/delete/probe (usage: Probe annidx <sfDir>)
        import org.apache.spark.sql.functions._
        val dir = args(1)
        val e = graft.Tables.embeddings(spark, dir)
          .select(col("vec_id").as("id"),
            graft.functions.VectorFunctions.toDouble(col("embedding")).as("vec"))
        def t[A](name: String)(body: => A): A = {
          val t0 = System.nanoTime()
          val r = body
          println(f"[probe] annidx $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
          r
        }
        val live = e.withColumn("nrm",
            graft.functions.VectorFunctions.norm(col("vec")))
          .filter(col("nrm") > 0)
        val n = t("count")(live.count())
        t("fit")(sim.Ann.fitCentroids(live, n, 23, 42L, 100000L))
        val idx = java.nio.file.Files.createTempDirectory("probe_annidx").toString + "/i"
        t("build (fit+calibrate+write)")(sim.AnnIndex.build(e, 23, 42L, idx))
        t("probeSweep")(sim.AnnIndex.probeSweep(spark, idx, k = 10, sampleMod = 25)
          .write.mode("overwrite").format("noop").save())
        val idx2 = java.nio.file.Files.createTempDirectory("probe_annidx2").toString + "/i"
        t("build2")(sim.AnnIndex.build(e, 23, 42L, idx2))
        t("delete")(sim.AnnIndex.delete(
          e.filter(col("id") % 13 === 0).select("id"), idx2))
        t("probe")(sim.AnnIndex.probe(spark, idx2, e.filter(col("id") < 8), k = 10)
          .write.mode("overwrite").format("noop").save())
        val nFiles = {
          val p = new org.apache.hadoop.fs.Path(s"$idx/cells")
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          fs.listFiles(p, true)
          var c = 0
          val it = fs.listFiles(p, true)
          while (it.hasNext) { it.next(); c += 1 }
          c
        }
        println(s"[probe] annidx cells files: $nFiles")
      case Some("ssj") =>
        // attribute the jaccard self-join stages (usage: Probe ssj <sfDir>)
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.expressions.Window
        val dir = args(1)
        def t[A](name: String)(body: => A): A = {
          val t0 = System.nanoTime()
          val r = body
          println(f"[probe] ssj $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
          r
        }
        val sets0 = t("shingleSets build+count") {
          val s = LlmQueries.shingleSets(spark, dir).localCheckpoint(true)
          println(s"[probe] ssj sets rows: ${s.count()}")
          s
        }
        val sets = sets0.select(col("doc_id").as("sid"), col("s"))
          .withColumn("sz", size(col("s")).cast("long"))
        val toks = sets.select(col("sid"), col("sz"), explode(col("s")).as("tok"))
        val freq = t("freq")(toks.groupBy("tok").agg(count(lit(1)).as("df"))
          .localCheckpoint(true))
        println(s"[probe] ssj distinct toks: ${freq.count()}")
        val byRarity = Window.partitionBy("sid").orderBy(col("df").asc, col("tok").asc)
        val prefixLen = col("sz") - floor((col("sz") * 1 + 2 - 1) / 2).cast("long") + 1
        val prefixes = t("prefixes (join+window)") {
          toks.join(freq, "tok")
            .withColumn("pos", row_number().over(byRarity))
            .filter(col("pos") <= prefixLen)
            .select(col("sid"), col("sz"), col("tok"), col("pos"))
            .localCheckpoint(true)
        }
        println(s"[probe] ssj prefix rows: ${prefixes.count()}")
        // r16: the df >= 2 prune — prefix rows whose token occurs once
        // corpus-wide cannot produce an id1 < id2 pair in the self-join
        val prefixes2 = t("prefixes df>=2") {
          toks.join(freq, "tok")
            .withColumn("pos", row_number().over(byRarity))
            .filter(col("pos") <= prefixLen && col("df") >= 2)
            .select(col("sid"), col("sz"), col("tok"), col("pos"))
            .localCheckpoint(true)
        }
        println(s"[probe] ssj prefix rows df>=2: ${prefixes2.count()}")
        val a = prefixes.toDF("id1", "sz1", "tok", "pos1")
        val b = prefixes.toDF("id2", "sz2", "tok", "pos2")
        val cand = t("cand join+distinct") {
          a.join(b,
              a("tok") === b("tok") && col("id1") < col("id2") &&
              greatest(col("sz1"), col("sz2")) * 1 <=
                least(col("sz1"), col("sz2")) * 2 &&
              (lit(1) + least(col("sz1") - col("pos1"), col("sz2") - col("pos2"))) *
                (2 + 1) >= (col("sz1") + col("sz2")) * 1)
            .select("id1", "id2").distinct().localCheckpoint(true)
        }
        println(s"[probe] ssj cand rows: ${cand.count()}")
        t("verify") {
          val s1 = sets.select(col("sid").as("id1"), col("s").as("s1"))
          val s2 = sets.select(col("sid").as("id2"), col("s").as("s2"))
          cand.join(s1, "id1").join(s2, "id2")
            .withColumn("inter", size(array_intersect(col("s1"), col("s2"))).cast("long"))
            .withColumn("uni", (size(col("s1")) + size(col("s2"))).cast("long") - col("inter"))
            .filter(col("inter") > 0 && col("inter") * 3 >= (col("uni") + col("inter")) * 1)
            .write.mode("overwrite").format("noop").save()
        }
        t("whole pairGraph (fresh stage)") {
          LlmQueries.pairGraph(spark, dir)
            .write.mode("overwrite").format("noop").save()
        }
      case Some("explainbuild") =>
        // the staged-artifact BUILD plans (a stage serves parquet, so
        // the interesting plan hides behind the staging boundary) —
        // usage: Probe explainbuild <sfDir> <outDir>
        import org.apache.spark.sql.functions._
        val dir = args(1)
        val outDir = java.nio.file.Paths.get(args(2))
        java.nio.file.Files.createDirectories(outDir)
        def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
          val plan = df.queryExecution
            .explainString(org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(outDir.resolve(s"$name.txt"),
            plan.getBytes("UTF-8"))
          println(s"[probe] explained $name")
        }
        dump("stage_neardup_pairs_build",
          graft.dedup.SetSimJoin.jaccardSelfJoin(
            LlmQueries.shingleSets(spark, dir), "doc_id", "s",
            tauNum = 1, tauDen = 2))
        // d26's verified-pair BUILD (the SSJ with the `touching`
        // restriction) — d26's FINAL plan hides behind CC's
        // checkpoint/driver path, so the candidate/verify shape is
        // only visible here
        dump("d26_newpairs_build", {
          val sets = LlmQueries.shingleSets(spark, dir)
          graft.dedup.SetSimJoin.jaccardSelfJoin(sets, "doc_id", "s",
            tauNum = 1, tauDen = 2,
            touching = Some(sets.filter(col("doc_id") % 4 === 3)
              .select("doc_id")))
        })
        dump("stage_pub_plan_build", {
          // planFrame's inner build, pre-staging (mirrors
          // PublishCorpus.planFrame on THIS tree)
          import org.apache.spark.sql.types.{BinaryType, LongType}
          val root = java.nio.file.Files
            .createTempDirectory("probe_pub").toString
          val kept = PublishCorpus.keptFrame(spark, dir, root)
            .join(PublishCorpus.splitFrame(spark, dir, root)
              .select("doc_id", "split"), "doc_id")
            .withColumn("hk",
              conv(substring(md5(concat_ws(":", col("doc_id"), lit(0))
                .cast(BinaryType)), 1, 15), 16, 10).cast(LongType))
          etl.GlobalOrder.withGlobalSeq(kept,
              "hk", Seq("doc_id"), valueCol = Some("n_tok"),
              seqCol = "seq", runCol = "cum_tok",
              partitionCols = Seq("split"))
            .withColumn("shard", expr("(cum_tok - n_tok) div 1024"))
            .select("split", "shard", "seq", "doc_id", "source", "n_tok",
              "cum_tok", "text")
        })
      case Some("jobs") =>
        // per-line Spark-job/stage/task census (usage: Probe jobs
        // <sfDir> [names...]): on latency-bound hosts the suite's cost
        // is job launches, not bytes — this attributes each query's
        // seconds to its sequential-job count so an outlier (a line
        // paying 3× its siblings' launches) is visible as a NUMBER.
        // Counting via a per-query job group + statusTracker (public
        // API; the listener bus is async, so poll briefly for the
        // status store to drain before reading).
        val dir = args(1)
        val names =
          if (args.length > 2) args.drop(2).toSeq
          else SparkEntry.queries.keys.toSeq.sorted
        val sc = spark.sparkContext
        names.foreach { name =>
          SparkEntry.queries.get(name).foreach { fn =>
            sc.setJobGroup(s"probe:$name", name, interruptOnCancel = false)
            val t0 = System.nanoTime()
            val ok =
              try { fn(spark, dir).write.mode("overwrite").format("noop").save(); true }
              catch { case e: Throwable =>
                System.err.println(s"[probe] jobs $name failed: ${e.getMessage}"); false }
            val sec = (System.nanoTime() - t0) / 1e9
            sc.clearJobGroup()
            Thread.sleep(300) // let the async status bus drain
            val jobIds = sc.statusTracker.getJobIdsForGroup(s"probe:$name")
            val stageIds = jobIds.flatMap(id =>
              sc.statusTracker.getJobInfo(id).map(_.stageIds().map(_.intValue)).getOrElse(Array.empty[Int]))
            val tasks = stageIds.distinct.flatMap(sid =>
              sc.statusTracker.getStageInfo(sid).map(_.numTasks)).sum
            if (ok) println(f"[probe] jobs $name: ${jobIds.length} jobs, " +
              f"${stageIds.distinct.length} stages, $tasks tasks, $sec%.2f s")
          }
        }
      case Some("explain") =>
        // dump .explain("formatted") per named query for the plan
        // ledger (usage: Probe explain <sfDir> <outDir> <name...>;
        // name "stage:x"/"all" unsupported — query keys only)
        val dir = args(1)
        val outDir = java.nio.file.Paths.get(args(2))
        java.nio.file.Files.createDirectories(outDir)
        val names =
          if (args.length > 3) args.drop(3).toSeq
          else SparkEntry.queries.keys.toSeq.sorted
        names.foreach { name =>
          SparkEntry.queries.get(name) match {
            case Some(fn) =>
              val plan = fn(spark, dir).queryExecution
                .explainString(org.apache.spark.sql.execution.FormattedMode)
              java.nio.file.Files.write(outDir.resolve(s"$name.txt"),
                plan.getBytes("UTF-8"))
              println(s"[probe] explained $name -> $outDir/$name.txt")
            case None => System.err.println(s"[probe] no such query: $name")
          }
        }
      case _ =>
        // driver-contract smoke: entry() must return rows on sf0.001
        val n = SparkEntry.entry(spark).count()
        println(s"[probe] entry rows: $n")
        require(n > 0, "entry must return rows")
        println(s"[probe] queries: ${SparkEntry.queries.size}, oracles: ${SparkEntry.oracleSql.size}")
        val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
        require(missing.isEmpty, s"oracles without queries: $missing")
    }
    spark.stop()
  }
}
