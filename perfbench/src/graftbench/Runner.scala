package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: one process, one workload.
  *
  *   Runner key=value...
  *     input=dir             the generated tables
  *     queries=a,b,...       SparkEntry.queries keys, in pass order
  *     warm=N                warm passes (rounded up to a multiple of
  *                           4 when traced)
  *     trace=0|1             attach the benchmark's listeners
  *     views=q               after a traced run's passes, time the SQL
  *                           operator-view build, then query q twice
  *     par=q                 after a traced run's passes, run q (whose
  *                           builder overlaps its legs with util.Par)
  *                           twice with the listeners on
  *     out=dir               run.json, spans.jsonl and verify/ go here
  *
  * Set-up is `GraftSession.toolSession` + `warmUp` +
  * `TrainingQueries.prewarmFixtures`. Then one cold pass runs every
  * query in order into the noop sink, an untimed verify pass writes each
  * result as parquet for the oracle check, and the warm passes repeat
  * the cold one. A query that throws is recorded with its error and the
  * pass goes on. Spark is stopped in a finally block.
  */
object Runner {

  final case class Exec(pass: Int, query: String, buildS: Double,
                        actionS: Double, error: Option[String],
                        writtenB: Long) {
    def wallS: Double = buildS + actionS
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val dir = args("input")
    val queries = args("queries").split(',').toSeq
    val warm = args("warm").toInt
    val traced = args("trace") == "1"
    val viewsQuery = args.get("views").filter(_.nonEmpty && traced)
    val parQuery = args.get("par").filter(_.nonEmpty && traced)
    val out = Paths.get(args("out"))
    Files.createDirectories(out)
    val unknown = (queries ++ viewsQuery ++ parQuery)
      .filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    var spark: SparkSession = null
    try {
      val t0 = System.nanoTime()
      spark = graft.GraftSession.toolSession(defaultCpus = "4")
      val t1 = System.nanoTime()
      graft.GraftSession.warmUp(spark, dir)
      val t2 = System.nanoTime()
      graft.queries.TrainingQueries.prewarmFixtures(spark, dir)
      val t3 = System.nanoTime()
      val setup = ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
      run(spark, dir, queries, warm, traced, viewsQuery, parQuery, out, setup)
    } finally {
      if (spark != null) spark.stop()
    }
  }

  private def run(spark: SparkSession, dir: String, queries: Seq[String],
                  warm: Int, traced: Boolean,
                  viewsQuery: Option[String], parQuery: Option[String],
                  out: Path,
                  setup: (Double, Double, Double)): Unit = {
    val sc = spark.sparkContext
    val trace = new Trace
    val execs = mutable.ArrayBuffer.empty[Exec]
    val tracedPasses = mutable.Set.empty[Int]

    def runQuery(pass: Int, name: String): Exec = {
      val fn = graft.SparkEntry.queries(name)
      sc.setJobGroup(s"bench:$pass:$name", name)
      val w0 = writtenBytes()
      val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      var n1 = n0
      val err = try {
        val df = fn(spark, dir)
        n1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        None
      } catch { case e: Throwable =>
        if (n1 == n0) n1 = System.nanoTime()
        System.err.println(s"[perfbench] $name FAILED (pass $pass): $e")
        Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      val n2 = System.nanoTime()
      val t1 = t0 + (n1 - n0) / 1000000L; val t2 = t0 + (n2 - n0) / 1000000L
      sc.clearJobGroup()
      if (traced) {
        trace.drain(spark)
        trace.synchronized {
          trace.queries += Trace.QuerySpan(pass, name, t0, t1, t2, err.isEmpty)
        }
      }
      Exec(pass, name, (n1 - n0) / 1e9, (n2 - n1) / 1e9, err,
        writtenBytes() - w0)
    }
    def runPass(pass: Int): Unit = queries.foreach(q => execs += runQuery(pass, q))

    // untimed verify pass: each result as parquet for the oracle check
    val verifyDir = out.resolve("verify")
    val verifyErrors = mutable.LinkedHashMap.empty[String, String]
    def verify(name: String): Unit =
      try graft.SparkEntry.queries(name)(spark, dir).coalesce(1).write
        .mode("overwrite").parquet(verifyDir.resolve(name).toString)
      catch { case e: Throwable =>
        verifyErrors(name) = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
      }

    if (traced) { trace.attach(spark); tracedPasses += 0 }
    runPass(0)
    if (traced) trace.detach(spark)
    // verify right after the cold pass: it is one more untimed run of
    // the same code, so the warm passes start closer to steady state
    queries.foreach(verify)
    // warm passes; a traced run makes a multiple of four and switches
    // its listeners off, on, on, off in each four (ABBA, so the warm-up
    // trend cancels) to measure tracing overhead
    val nPasses = 1 + (if (traced) (warm.max(4) + 3) / 4 * 4 else warm)
    (1 until nPasses).foreach { pass =>
      val on = traced && (pass % 4 == 2 || pass % 4 == 3)
      if (traced) { if (on) trace.attach(spark) else trace.detach(spark) }
      if (on) tracedPasses += pass
      runPass(pass)
    }
    if (traced) trace.detach(spark)

    val (pinBlocks, pinMb) = pinned(spark)
    val retainedMb = retainedHeapMb()

    // the SQL operator views' first use: the view build alone, then the
    // view query once on the built views and once more warm
    val views: Seq[(String, Double)] = viewsQuery.toSeq.flatMap { q =>
      def timed(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val build = timed {
        graft.SqlFacade.registerTables(spark, dir)
        graft.SqlFacade.registerOperatorViews(spark, dir)
      }
      val runs = (1 to 2).map(_ => timed(graft.SparkEntry.queries(q)(spark, dir)
        .write.format("noop").mode("overwrite").save()))
      Seq("sql.views_build_s" -> build, "sql.view_query_first_s" -> runs(0),
        "sql.view_query_warm_s" -> runs(1))
    }

    // util.Par's overlap: the query runs once for its first use, then
    // once more warm, both traced; it is timed apart from the passes
    // (its ~3 s warm run does not fit a timed run's budget)
    val parExecs = parQuery.toSeq.flatMap { q =>
      trace.attach(spark)
      val runs = Seq(runQuery(Layers.ParPass, q), runQuery(Layers.ParPass + 1, q))
      trace.detach(spark)
      runs
    }

    val probes = viewsQuery.toSeq ++ parQuery
    probes.foreach(verify)
    Files.createDirectories(verifyDir)
    Files.writeString(verifyDir.resolve("oracle_sql.json"), Json.obj(
      graft.SparkEntry.oracleSql.filter { case (k, _) => (queries ++ probes).contains(k) }
        .toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))

    val layers: Seq[(String, Double)] =
      if (!traced) Nil
      else views ++ Layers.compute(spark, dir, trace, execs.toSeq,
        tracedPasses.toSet, nPasses, out)

    val record = Seq(
      "master" -> Json.str(sc.master),
      "cores" -> Runtime.getRuntime.availableProcessors().toString,
      "default_parallelism" -> sc.defaultParallelism.toString,
      "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576L).toString,
      "spark_version" -> Json.str(spark.version),
      "java_version" -> Json.str(System.getProperty("java.version")))
    def execsJson(es: Seq[Exec]) = Json.arr(es.map { e =>
      Json.obj(Seq("pass" -> e.pass.toString, "query" -> Json.str(e.query),
        "build_s" -> Json.num(e.buildS), "action_s" -> Json.num(e.actionS),
        "error" -> e.error.map(Json.str).getOrElse("null"),
        "written_b" -> e.writtenB.toString)) })
    val json = Json.obj(Seq(
      "record" -> Json.obj(record),
      "setup" -> Json.obj(Seq("create_s" -> Json.num(setup._1),
        "warmup_s" -> Json.num(setup._2), "prewarm_s" -> Json.num(setup._3))),
      "execs" -> execsJson(execs.toSeq),
      "par_execs" -> execsJson(parExecs),
      "pin_blocks" -> pinBlocks.toString,
      "pin_mb" -> Json.num(pinMb),
      "retained_mb" -> Json.num(retainedMb),
      "verify_errors" -> Json.obj(verifyErrors.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) })))
    Files.writeString(out.resolve("run.json"), json)
  }

  /** Bytes this process has passed to write calls so far (Linux
    * /proc/self/io `wchar`): shuffle files, streaming state and
    * checkpoints, MutableTable versions and parquet output alike,
    * including files deleted again before the query ends. */
  def writtenBytes(): Long =
    Files.readAllLines(Paths.get("/proc/self/io")).asScala
      .collectFirst { case l if l.startsWith("wchar:") => l.drop(6).trim.toLong }
      .getOrElse(0L)

  /** Blocks and MB still held by cached or checkpointed RDDs. */
  def pinned(spark: SparkSession): (Long, Double) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(_.numCachedPartitions.toLong).sum,
     infos.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }

  /** Driver heap still in use after a full collection (local mode: the
    * executor's block store lives in this heap too). The pauses let
    * Spark's ContextCleaner drop the blocks of collected broadcasts and
    * shuffles before the next collection. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }
}

/** Just enough JSON writing for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
