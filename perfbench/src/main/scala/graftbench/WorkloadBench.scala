package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

/** One benchmark run in one fresh JVM.
  *
  * Reads a plan file written by run.py (tab-separated lines), builds a
  * `local[cpus]` session, opens the corpus tables, and runs the planned
  * passes as a closed loop with one client: each query is built through
  * its module's public `queries` map, then its action runs, then the
  * next query starts. The first pass is the cold pass; the others are
  * warm passes in the same session. Raw timings go to
  * `<out>/events.jsonl`; run.py turns them into metrics.
  *
  * With `trace 1` a [[Tracer]] also records spans and Spark listener
  * counters; untraced runs register no listener and snapshot no conf.
  */
object WorkloadBench {
  type Fn = (SparkSession, String) => DataFrame

  /** A planned query: its module and its action, "noop" or "parquet". */
  final case class Query(name: String, module: String, action: String)

  final case class Plan(
      corpus: String, out: String, trace: Boolean, cpus: Int,
      queries: Map[String, Query], passes: Seq[Seq[String]])

  def readPlan(path: String): Plan = {
    val lines = Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filter(_.nonEmpty).map(_.split('\t').toSeq)
    val kv = lines.collect { case Seq(k, v) => k -> v }.toMap
    Plan(kv("corpus"), kv("out"), kv("trace") == "1", kv("cpus").toInt,
      lines.collect { case Seq("query", q, m, a) => q -> Query(q, m, a) }.toMap,
      lines.collect { case Seq("pass", qs) => qs.split(',').toSeq })
  }

  /** The query's function from its module's own `queries` map; fails
    * when the module does not hold the query, so a moved query cannot be
    * attributed to the wrong layer. */
  def lookup(q: Query): Fn = {
    val cls = Class.forName(s"graft.${q.module}$$")
    val queries = cls.getMethod("queries").invoke(cls.getField("MODULE$").get(null))
      .asInstanceOf[scala.collection.Map[String, Fn]]
    queries.getOrElse(q.name,
      throw new IllegalArgumentException(s"graft.${q.module}.queries has no ${q.name}"))
  }

  def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"

  def main(args: Array[String]): Unit = {
    val plan = readPlan(args(0))
    val out = new File(plan.out)
    out.mkdirs()
    val log = new PrintWriter(new File(out, "events.jsonl"), "UTF-8")
    def emit(fields: (String, Any)*): Unit = { log.println(Json.obj(fields: _*)); log.flush() }

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${plan.cpus}]")
      .config("spark.sql.shuffle.partitions", plan.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(out, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    val tracer = if (plan.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.begin("setup", Map.empty))
    // Opening a table reads its parquet footer (schema inference); the
    // events loader also adapts the ts encoding. Both are engine code.
    graft.Tables.names.foreach { n =>
      (if (n == "events") graft.Tables.events(spark, plan.corpus)
       else graft.Tables.load(spark, plan.corpus, n)).schema
    }
    val t2 = System.nanoTime()
    // Looking the queries up initializes their modules, so work a module
    // does when it loads counts as set-up.
    val fns = plan.queries.map { case (name, q) => name -> lookup(q) }
    tracer.foreach(_.end())
    emit("kind" -> "setup", "ready_epoch_ms" -> System.currentTimeMillis(),
      "session_s" -> (t1 - t0) / 1e9, "open_s" -> (t2 - t1) / 1e9,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0,
      "cpus" -> plan.cpus)

    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    def gcMs: Long = gc.map(_.getCollectionTime.max(0L)).sum
    heapPools.foreach(_.resetPeakUsage())

    /** Writes `df` as parquet to `path`, or to `noop` without one.
      * Returns the row count and an order-independent content hash (the
      * sum of each row's xxhash64), both taken by an observation on the
      * written plan, which adds no job. */
    def act(q: String, df: DataFrame, path: Option[String]): (Long, String) = {
      val obs = Observation(s"rows_$q")
      val rowHash = xxhash64(df.columns.map(c => col("`" + c.replace("`", "``") + "`")).toSeq: _*)
      val w = df.observe(obs, count(lit(1)).as("rows"),
        sum(rowHash.cast("decimal(38,0)")).as("hash")).write.mode("overwrite")
      path match {
        case None => w.format("noop").save()
        case Some(p) => w.parquet(p)
      }
      (obs.get("rows").asInstanceOf[Long], String.valueOf(obs.get("hash")))
    }
    def outPath(kind: String, pass: Int, q: String): String =
      new File(out, s"$kind/p$pass/$q").getAbsolutePath

    // The DataFrames that the `noop` queries built in the last pass; the
    // check writes these.
    val lastPass = plan.passes.size - 1
    val built = scala.collection.mutable.ArrayBuffer[(String, DataFrame)]()

    def runQuery(pass: Int, q: String): Unit = {
      val query = plan.queries(q)
      val module = query.module
      val parquet = if (query.action == "parquet") Some(outPath("write", pass, q)) else None
      val confBefore = if (plan.trace) spark.conf.getAll else Map.empty[String, String]
      tracer.foreach(_.begin("query", Map("query" -> q, "module" -> module)))
      var buildS, actionS = 0.0
      var buildJobs, actionJobs = 0L
      var rows = -1L
      var hash: String = null
      var error: String = null
      val q0 = System.nanoTime()
      try {
        tracer.foreach(_.begin("build", Map("module" -> module)))
        val df = try fns(q)(spark, plan.corpus) finally tracer.foreach(t => buildJobs = t.end())
        if (parquet.isEmpty && pass == lastPass) built += ((q, df))
        val q1 = System.nanoTime()
        buildS = (q1 - q0) / 1e9
        tracer.foreach(_.begin("action", Map("module" -> module)))
        val (n, h) = try act(q, df, parquet) finally tracer.foreach(t => actionJobs = t.end())
        rows = n
        hash = h
        actionS = (System.nanoTime() - q1) / 1e9
      } catch {
        case e: Throwable => error = describe(e)
      }
      val totalS = (System.nanoTime() - q0) / 1e9
      tracer.foreach(_.end())
      val leaks = if (plan.trace) {
        val after = spark.conf.getAll
        (confBefore.keySet ++ after.keySet).toSeq.sorted
          .filter(k => confBefore.get(k) != after.get(k))
      } else Nil
      emit("kind" -> "exec", "pass" -> pass, "query" -> q, "module" -> module,
        "build_s" -> buildS, "action_s" -> actionS, "total_s" -> totalS,
        "rows" -> rows, "hash" -> hash, "error" -> error, "conf_changed" -> leaks,
        "build_jobs" -> buildJobs, "action_jobs" -> actionJobs,
        "output" -> parquet.orNull)
    }

    plan.passes.zipWithIndex.foreach { case (order, pass) =>
      val gc0 = gcMs
      val p0 = System.nanoTime()
      tracer.foreach(_.beginPass(pass))
      order.foreach(q => runQuery(pass, q))
      val counters = tracer.map(_.endPass()).getOrElse(Map.empty[String, Double])
      emit(Seq("kind" -> "pass", "pass" -> pass, "wall_s" -> (System.nanoTime() - p0) / 1e9,
        "gc_s" -> (gcMs - gc0) / 1000.0) ++ counters.toSeq: _*)
    }
    emit("kind" -> "jvm", "heap_peak_mb" ->
      heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)

    // Untimed check: write the kept DataFrames as parquet for run.py's
    // oracle compare. The `parquet` queries' own outputs are checked as
    // they are.
    tracer.foreach(_.disable())
    built.foreach { case (q, df) =>
      val path = outPath("check", lastPass, q)
      val ((rows, hash), error) =
        try (act(q, df, Some(path)), null)
        catch { case e: Throwable => ((-1L, null), describe(e)) }
      emit("kind" -> "check", "pass" -> lastPass, "query" -> q, "rows" -> rows,
        "hash" -> hash, "error" -> error, "output" -> path)
    }
    tracer.foreach(t => t.writeSpans(new File(out, "spans.jsonl")))
    // The oracle contract of the planned queries, for run.py's check.
    val planned = plan.queries.keySet
    val bounds = graft.SparkEntry.oracleBounds.filter(kv => planned(kv._1))
      .map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(plan.out, "oracle.json"),
      s"""{"sql":${Json.value(graft.SparkEntry.oracleSql.filter(kv => planned(kv._1)))},"bounds":$bounds}""")
    log.close()
    spark.stop()
  }
}

/** Minimal JSON writer for the harness's flat records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
