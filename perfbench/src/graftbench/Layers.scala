package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-layer metrics of a traced run, named after the modules they
  * measure. Pass-level counters are summed over one pass and reported
  * as the median over the traced warm passes.
  */
object Layers {

  /** Pass numbers of the traced util.Par query's two runs: ParPass is
    * its first use, ParPass + 1 the warm run that `par.overlap` reads. */
  val ParPass = 1000

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def compute(spark: SparkSession, dir: String, trace: Trace,
              execs: Seq[Runner.Exec], tracedPasses: Set[Int], nPasses: Int,
              out: Path): Seq[(String, Double)] = {
    val warm = tracedPasses.filter(_ > 0).toSeq.sorted
    val MB = 1048576.0
    val spanOf = (at: Long) => trace.spanAt(at)
    val jobsBySpan = trace.jobs.values.toSeq.flatMap(j => spanOf(j.start).map(_ -> j))
      .groupBy(_._1).map { case (s, js) => s -> js.map(_._2) }
    def stagesOf(js: Seq[Trace.JobRec]) =
      js.flatMap(_.stages).distinct.flatMap(trace.stages.get)
    def inPass[T](xs: Seq[T], at: T => Long, p: Int) =
      xs.filter(x => spanOf(at(x)).exists(_.pass == p))

    def perPass(f: Int => Double): Double = median(warm.map(f.apply))
    def jobsIn(p: Int) = jobsBySpan.collect { case (s, js) if s.pass == p => js }.flatten.toSeq
    def stageSum(p: Int)(f: Trace.StageAgg => Double) = stagesOf(jobsIn(p)).map(f).sum
    def execsIn(p: Int) = execs.filter(_.pass == p)
    // MutableTable commits: parquet writes into its v<N> version dirs
    def commitsIn(p: Int) = inPass(trace.commits.toSeq, (c: Trace.CommitRec) => c.at, p)
      .filter(_.path.matches(""".*/v\d+/?$"""))

    val warmAll = execs.filter(_.pass > 0)
    def warmWall(ps: Seq[Int]) = median(ps.map(p => execsIn(p).map(_.wallS).sum))
    val untracedWarm = (1 until nPasses).filterNot(tracedPasses)

    val firstUse = execs.filter(_.pass == 0).map { c =>
      c.buildS - median(warmAll.filter(_.query == c.query).map(_.buildS))
    }.sum
    val queriesPerPass = execsIn(0).size.max(1)
    val batchMs = warm.flatMap(p => inPass(trace.batches.toSeq, (b: Trace.BatchRec) => b.at, p))
      .map(_.batchMs.toDouble)
    val kernels = Kernels.measure(spark, dir)

    writeSpans(trace, jobsBySpan, out)

    Seq(
      "tables.scan_mb" -> perPass(p => inPass(trace.plans.toSeq, (r: Trace.PlanRec) => r.at, p).map(_.scanB).sum / MB),
      "tables.scan_records" -> perPass(p => stageSum(p)(_.inRecs.toDouble)),
      "plan.analysis_s" -> perPass(p => inPass(trace.plans.toSeq, (r: Trace.PlanRec) => r.at, p).map(_.analysisMs).sum / 1e3),
      "plan.optimization_s" -> perPass(p => inPass(trace.plans.toSeq, (r: Trace.PlanRec) => r.at, p).map(_.optimizationMs).sum / 1e3),
      "plan.planning_s" -> perPass(p => inPass(trace.plans.toSeq, (r: Trace.PlanRec) => r.at, p).map(_.planningMs).sum / 1e3),
      "query.build_s" -> perPass(p => execsIn(p).map(_.buildS).sum),
      "query.action_s" -> perPass(p => execsIn(p).map(_.actionS).sum),
      "query.cold_build_s" -> execsIn(0).map(_.buildS).sum,
      "sched.jobs" -> perPass(p => jobsIn(p).size.toDouble),
      "sched.jobs_per_query" -> perPass(p => jobsIn(p).size.toDouble / queriesPerPass),
      "sched.stages" -> perPass(p => stagesOf(jobsIn(p)).count(_.tasks > 0).toDouble),
      "sched.tasks" -> perPass(p => stageSum(p)(_.tasks.toDouble)),
      "sched.delay_s" -> perPass(p => stageSum(p)(_.delayMs / 1e3)),
      "exec.run_s" -> perPass(p => stageSum(p)(_.runMs / 1e3)),
      "exec.cpu_s" -> perPass(p => stageSum(p)(_.cpuNs / 1e9)),
      "exec.gc_s" -> perPass(p => stageSum(p)(_.gcMs / 1e3)),
      "shuffle.read_mb" -> perPass(p => stageSum(p)(_.shufReadB / MB)),
      "shuffle.write_mb" -> perPass(p => stageSum(p)(_.shufWriteB / MB)),
      "spill.mb" -> perPass(p => stageSum(p)(_.spillB / MB)),
      "cache.first_use_s" -> firstUse,
      "par.overlap" -> trace.queries.find(_.pass == ParPass + 1).map { s =>
        jobsBySpan.getOrElse(s, Nil).map(j => (j.end - j.start).toDouble).sum /
          (s.t2 - s.t0).max(1L)
      }.getOrElse(0.0),
      "stream.batches" -> perPass(p => inPass(trace.batches.toSeq, (b: Trace.BatchRec) => b.at, p).size.toDouble),
      "stream.batch_ms_p50" -> median(batchMs),
      "stream.state_rows" -> perPass { p =>
        // the last progress of each streaming run holds its state size
        inPass(trace.batches.toSeq, (b: Trace.BatchRec) => b.at, p)
          .groupBy(_.run).values.map(_.maxBy(_.at).stateRows.toDouble).sum
      },
      "table.commit_s" -> perPass(p => commitsIn(p).map(_.durNs / 1e9).sum),
      "table.written_mb" -> perPass(p => commitsIn(p).map(_.bytes / MB).sum),
      "trace.overhead_s" -> (warmWall(warm) - warmWall(untracedWarm)),
    ) ++ kernels
  }

  /** One JSON line per query execution: build/action split, its jobs
    * (with phase) and each job's stages with their counters. */
  private def writeSpans(trace: Trace, jobsBySpan: Map[Trace.QuerySpan, Seq[Trace.JobRec]],
                         out: Path): Unit = {
    val lines = trace.queries.map { q =>
      val js = jobsBySpan.getOrElse(q, Nil).sortBy(_.id).map { j =>
        val st = j.stages.flatMap(id => trace.stages.get(id).map(id -> _)).map { case (id, s) =>
          Json.obj(Seq("id" -> id.toString, "tasks" -> s.tasks.toString,
            "run_ms" -> s.runMs.toString, "cpu_ms" -> (s.cpuNs / 1000000L).toString,
            "gc_ms" -> s.gcMs.toString, "delay_ms" -> s.delayMs.toString,
            "in_records" -> s.inRecs.toString, "shuffle_read_b" -> s.shufReadB.toString,
            "shuffle_write_b" -> s.shufWriteB.toString, "spill_b" -> s.spillB.toString))
        }
        Json.obj(Seq("id" -> j.id.toString,
          "phase" -> Json.str(if (j.start < q.t1) "build" else "action"),
          "start_ms" -> (j.start - q.t0).toString, "dur_ms" -> (j.end - j.start).toString,
          "stages" -> Json.arr(st)))
      }
      Json.obj(Seq("pass" -> q.pass.toString, "query" -> Json.str(q.query),
        "ok" -> q.ok.toString,
        "build_ms" -> (q.t1 - q.t0).toString, "action_ms" -> (q.t2 - q.t1).toString,
        "jobs" -> Json.arr(js)))
    }
    Files.writeString(out.resolve("spans.jsonl"), lines.mkString("", "\n", "\n"))
  }
}

/** Microbenchmarks for `graft.functions`: each named expression alone on
  * a column derived from the run's seeded input, cached before timing. */
object Kernels {
  import graft.functions.TextFunctions._
  import graft.functions.VectorFunctions._

  private val Rows = 20000
  private val Reps = 5

  private def timeNs(df: DataFrame, c: Column): Double = {
    val q = df.select(c.as("k"))
    q.write.format("noop").mode("overwrite").save()
    val ts = (1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      q.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0).toDouble
    }
    ts.sorted.apply(Reps / 2) / Rows
  }

  private def sized(df: DataFrame): DataFrame = {
    val n = df.count().max(1)
    df.crossJoin(df.sparkSession.range((Rows + n - 1) / n).toDF("_rep"))
      .drop("_rep").limit(Rows).cache()
  }

  def measure(spark: SparkSession, dir: String): Seq[(String, Double)] = {
    val text = sized(graft.Tables.documents(spark, dir).select("text"))
    val sh = text.select(hashed_shingles(col("text"), 5).as("sh")).cache()
    val syms = text.select(split(col("text"), "").as("syms")).cache()
    val emb = sized(graft.Tables.embeddings(spark, dir).select("embedding"))
    val dim = emb.head().getSeq[Float](0).size
    val rnd = new scala.util.Random(7)
    val qvec = typedLit(Seq.fill(dim)(rnd.nextGaussian().toFloat))
    val sub = 8
    val codebook = Seq.fill(sub)(Seq.fill(16)(Seq.fill(dim / sub)(rnd.nextGaussian() * 0.1)))
    val codes = emb.select(pq_encode(col("embedding"), codebook).as("codes")).cache()
    val res = Seq(
      "kernel.baseline.ns_per_row" -> timeNs(text, length(col("text"))),
      "kernel.HashedShingles.ns_per_row" -> timeNs(text, hashed_shingles(col("text"), 5)),
      "kernel.MinHashSignature.ns_per_row" -> timeNs(sh, minhash_sig(col("sh"), 64)),
      "kernel.SimHash64.ns_per_row" -> timeNs(sh, simhash64(col("sh"))),
      "kernel.BpeMergeExpr.ns_per_row" -> timeNs(syms, bpe_merge(col("syms"), "a", " ")),
      "kernel.CosineSimilarity.ns_per_row" -> timeNs(emb, cosine_sim(col("embedding"), qvec)),
      "kernel.PqAdcExpr.ns_per_row" -> timeNs(codes, pq_adc(col("codes"), qvec, codebook)))
    Seq(text, sh, syms, emb, codes).foreach(_.unpersist(blocking = true))
    res
  }
}
