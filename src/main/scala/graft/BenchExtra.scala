package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Round-6 optimization measurement harness (guide §1). NOT the driver
 * bench — Bench.scala is frozen; this main exists so plan captures and
 * noop-sink isolation never touch the timed contract.
 *
 * Modes:
 *   explain <outDir> [tag]       — write plans/<query>_<tag>.txt
 *                                  (explain "formatted") for every query
 *   time [repeats] [q1,q2,...]   — per-query noop-sink wall times
 *                                  (guide §1.4: compute every column, no
 *                                  count() pruning, no sink cost)
 *   count [repeats] [q1,q2,...]  — per-query min-of-N count() wall times
 *   jobs [query] [reps]          — per-job and per-stage task-time breakdown
 *   pipeline [nPages nEntities]  — per-stage flagship timing: each ER
 *                                  stage persisted and counted once
 *
 * Env contract matches Bench: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
 */
object BenchExtra {

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = nelspark.Main.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    args.toList match {
      case "explain" :: outDir :: rest =>
        val tag = rest.headOption.getOrElse("before")
        explainAll(spark, sfDir, outDir, tag)
      case "time" :: rest =>
        val repeats = rest.headOption.map(_.toInt).getOrElse(1)
        val only = rest.drop(1).headOption.map(_.split(",").toSet)
        timeAll(spark, sfDir, repeats, only)
      case "count" :: rest =>
        // the driver's exact methodology (fn(...).count()) but repeated
        // in-JVM; report per-query MIN across repeats (noise floor on
        // this ±40% co-tenant box)
        val repeats = rest.headOption.map(_.toInt).getOrElse(3)
        val only = rest.drop(1).headOption.map(_.split(",").toSet)
        countMin(spark, sfDir, repeats, only)
      case "pipeline" :: rest =>
        val nPages = rest.headOption.map(_.toLong).getOrElse(2000L)
        val nEnt = if (rest.length > 1) rest(1).toLong else nPages / 5
        pipelinePhases(spark, nPages, nEnt)
      case "jobs" :: rest =>
        // run one query (default q_pipeline_f1) N times; after warmup,
        // print every Spark job's wall time + stage task totals — the
        // "which stage is slow" evidence (guide §1.1) without the UI
        val qname = rest.headOption.getOrElse("q_pipeline_f1")
        val reps = rest.drop(1).headOption.map(_.toInt).getOrElse(2)
        jobBreakdown(spark, sfDir, qname, reps)
      case other => sys.error(s"unknown mode: $other")
    }
    spark.stop()
  }

  private def explainAll(spark: SparkSession, sfDir: String,
      outDir: String, tag: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    SparkEntry.queryList.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"), txt)
        println(s"[explain] $name ok")
      } catch {
        case e: Throwable => println(s"[explain] $name FAILED: ${e.toString.take(200)}")
      }
    }
  }

  /** Noop-sink per-query timing; prints one JSON line like Bench (but
    * with the noop action — NOT comparable to the driver's numbers). */
  private def timeAll(spark: SparkSession, sfDir: String, repeats: Int,
      only: Option[Set[String]]): Unit = {
    // same untimed warmup as Bench
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/nation.parquet").count()
    val qs = SparkEntry.queryList.filter(q => only.forall(_.contains(q._1)))
    (1 to repeats).foreach { rep =>
      val results = qs.map { case (name, fn) =>
        spark.sparkContext.setJobDescription(s"bx:$name")
        val t0 = System.nanoTime()
        val err = try { noop(fn(spark, sfDir)); None }
                  catch { case e: Throwable => Some(e.toString.take(200)) }
        spark.sparkContext.setJobDescription(null)
        (name, (System.nanoTime() - t0) / 1e9, err)
      }
      val body = results.map {
        case (k, v, None) => s""""$k":${f"$v%.3f"}"""
        case (k, _, Some(e)) => s""""$k":{"err":${nelspark.util.Json.str(e)}}"""
      }.mkString("{", ",", "}")
      val total = results.collect { case (_, v, None) => v }.sum
      println(f"""{"bx":"noop","rep":$rep,"total":$total%.2f,"queries":$body}""")
    }
  }

  private def countMin(spark: SparkSession, sfDir: String, repeats: Int,
      only: Option[Set[String]]): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/nation.parquet").count()
    val qs = SparkEntry.queryList.filter(q => only.forall(_.contains(q._1)))
    val mins = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    (1 to repeats).foreach { _ =>
      qs.foreach { case (name, fn) =>
        spark.sparkContext.setJobDescription(s"bx:$name")
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.setJobDescription(null)
        mins(name) = math.min(mins.getOrElse(name, Double.MaxValue), dt)
      }
    }
    val body = mins.map { case (k, v) => s""""$k":${f"$v%.3f"}""" }
      .mkString("{", ",", "}")
    println(f"""{"bx":"countmin","repeats":$repeats,"total":${mins.values.sum}%.2f,"queries":$body}""")
  }

  private def jobBreakdown(spark: SparkSession, sfDir: String,
      qname: String, reps: Int): Unit = {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String, Int)]()
    val taskNs = new java.util.concurrent.atomic.AtomicLong
    val stage2job = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val jobTaskNs = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicLong]()
    val stageName = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.put(js.jobId, (System.nanoTime(),
          Option(js.properties.getProperty("spark.job.description")).getOrElse(""),
          js.stageInfos.map(_.numTasks).sum))
        js.stageInfos.foreach { si =>
          stage2job.put(si.stageId, js.jobId)
          stageName.put(si.stageId,
            si.rddInfos.map(_.name).mkString(">").take(200))
        }
      }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val st = jobs.remove(je.jobId)
        if (st != null)
          done.add((je.jobId, (System.nanoTime() - st._1) / 1e9, st._2, st._3))
      }
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) {
          val ns = te.taskMetrics.executorRunTime * 1000000L
          taskNs.addAndGet(ns)
          jobTaskNs.computeIfAbsent(te.stageId,
            _ => new java.util.concurrent.atomic.AtomicLong).addAndGet(ns): Unit
        }
    })
    val fn = SparkEntry.queries(qname)
    (1 until reps).foreach { _ => fn(spark, sfDir).count() } // warmup reps
    org.apache.spark.sql.NelShim.waitForListenerBus(spark)
    done.clear(); taskNs.set(0L); jobTaskNs.clear()
    val t0 = System.nanoTime()
    fn(spark, sfDir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    org.apache.spark.sql.NelShim.waitForListenerBus(spark)
    val rows = done.toArray(Array.empty[(Int, Double, String, Int)]).sortBy(_._1)
    rows.foreach { case (id, w, desc, nt) =>
      println(f"[job] #$id%-4d ${w}%6.3f s  tasks=$nt%-4d")
    }
    // per-STAGE task time (stages run once; job attribution lies under AQE)
    jobTaskNs.entrySet().toArray(
      Array.empty[java.util.Map.Entry[Int, java.util.concurrent.atomic.AtomicLong]])
      .sortBy(-_.getValue.get).take(25).foreach { e =>
        println(f"[stage] #${e.getKey}%-5d task-s=${e.getValue.get / 1e9}%7.2f  " +
          Option(stageName.get(e.getKey)).getOrElse(""))
      }
    println(f"[job] measured-rep wall=${wall}%.2f s, jobs=${rows.length}, " +
      f"sum-job-wall=${rows.map(_._2).sum}%.2f s, task-time=${taskNs.get / 1e9}%.2f s")
  }

  /** Flagship decomposition: every stage boundary persists its stage and
    * counts it as its own phase, so a phase never re-runs its upstream
    * and the phases sum to the run (the persist/count barriers make the
    * TOTAL larger than a fused run's wall). */
  private def pipelinePhases(spark: SparkSession, nPages: Long,
      nEntities: Long): Unit = {
    import nelspark.gen.CorpusGen
    import nelspark.pipeline._
    val cfg = ErConfig()
    def ph[T](name: String)(f: => T): T = {
      spark.sparkContext.setJobDescription(s"phase:$name")
      val t0 = System.nanoTime()
      val r = f
      println(f"[phase] $name%-22s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      spark.sparkContext.setJobDescription(null)
      r
    }
    val total0 = System.nanoTime()
    val gen = CorpusGen.generate(spark, nPages, nEntities).cache()
    ph("generate+cache")(gen.count())
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val st = Pipeline.stages(CorpusGen.pages(gen), cfg)(new Pipeline.Boundary {
      def apply(stage: String, compute: => DataFrame): DataFrame = ph(stage) {
        val df = compute.persist()
        df.count()
        persisted += df
        df
      }
    })
    val gold = CorpusGen.gold(gen)
    val f1 = Evaluate.pairwiseF1(
      Evaluate.labeledPairs(Evaluate.labeledMentions(st.mentions, gold)), st.clusters)
    ph("f1 collect")(f1.collect())
    println(f"[phase] TOTAL                  ${(System.nanoTime() - total0) / 1e9}%6.2f s")
    persisted.foreach(_.unpersist())
    gen.unpersist()
  }
}
