package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark JVM: builds the session the way `graft.Bench` does,
  * primes it with untimed work of the same kind (`--prime` catalog
  * queries, or MR jobs),
  * runs one pass of a workload through the program's public entry points
  * and writes everything it measured to one JSON file for `run.py`.
  *
  * Modes:
  *  - `catalog`: each named `SparkEntry.queries` entry once, in the given
  *    order, timed as construct (the catalog lambda) + action (the noop
  *    sink `Bench` uses); then, after the timed pass, the output hash
  *    (or, for `--count-only` names, the row count) of each `--hash` query
  *    that succeeded.
  *  - `mr`: `wc` and `indexer` through `MapReduce.run`, from
  *    `TextIO.wholeTextFiles` to `TextIO.writeTextSink`, alternately,
  *    `--jobs` of them as a one-client closed loop.
  *
  * With `--trace 1` the same pass also records spans and layer counters
  * (Catalyst phases, codegen, exec task metrics, MR stages, registry
  * size) and ends with the native pair-kernel timings. Spans stay in
  * memory and are written with the result at exit.
  */
object Harness {
  val TagKey = "perfbench.tag"

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val launchMs = opt("launch-ms").toLong
    val trace = opt.getOrElse("trace", "0") == "1"
    val cores = opt("cores").toInt
    val data = opt("data")
    val stamp0 = graft.Bench.machineStamp()
    val steal0 = graft.Bench.stealTicks()
    val out = new Json

    // Session: graft.Bench's conf at local[cores]
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val qeLog = new QeLog
    if (trace) spark.listenerManager.register(qeLog)
    val readyMs = System.currentTimeMillis()
    Warmup.run(spark, data)
    val warmMs = System.currentTimeMillis()
    val spans = new Spans
    val ctx = Ctx(spark, counters, qeLog, spans, trace, data)
    def list(k: String) = opt.getOrElse(k, "").split(",").toSeq.filter(_.nonEmpty)
    val primeErrors = opt("mode") match {
      case "catalog" => Catalog.prime(ctx, list("prime"))
      case "mr" => Mr.prime(ctx, opt("corpus"), opt("outdir") + "/prime", opt("nreduce").toInt)
    }
    ctx.drain()
    qeLog.take()
    val primeMs = System.currentTimeMillis()
    spans.addEpoch("session.build", -1, launchMs, readyMs)
    spans.addEpoch("session.warmup", -1, readyMs, warmMs)
    spans.addEpoch("session.prime", -1, warmMs, primeMs)

    out.num("session_build_s", (readyMs - launchMs) / 1e3)
    out.num("session_warmup_s", (warmMs - readyMs) / 1e3)
    out.num("session_prime_s", (primeMs - warmMs) / 1e3)
    out.raw("prime_errors", Json.arr(primeErrors))
    opt("mode") match {
      case "catalog" =>
        Catalog.run(ctx, list("queries"), list("hash").toSet, list("count-only").toSet, out)
      case "mr" =>
        Mr.run(ctx, opt("corpus"), opt("outdir"), opt("jobs").toInt, opt("nreduce").toInt, out)
    }
    if (trace) {
      val k0 = System.nanoTime()
      Kernels.run(ctx, opt("seed").toLong, out)
      out.num("kernels_s", (System.nanoTime() - k0) / 1e9)
    }
    val stamp1 = graft.Bench.machineStamp()
    val steal1 = graft.Bench.stealTicks()
    try spark.stop() catch { case _: Throwable => () }
    out.obj("machine", new Json()
      .num("loadavg1_start", stamp0._1).num("loadavg1_end", stamp1._1)
      .num("cores", stamp0._2).num("java_procs", stamp0._3)
      .num("steal_ticks", if (steal0 < 0 || steal1 < 0) -1 else steal1 - steal0))
    out.num("rss_peak_mb", rssPeakMb())
    out.raw("spans", spans.json)
    Files.write(Paths.get(opt("out")), out.render.getBytes(StandardCharsets.UTF_8))
  }

  /** Peak resident set of this JVM (VmHWM), MB. */
  def rssPeakMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
      finally src.close()
    } catch { case _: Throwable => -1.0 }
}

final case class Ctx(
    spark: SparkSession, counters: Counters, qeLog: QeLog, spans: Spans,
    trace: Boolean, data: String) {
  def tag(t: String): Unit = spark.sparkContext.setLocalProperty(Harness.TagKey, t)
  def drain(): Unit = org.apache.spark.graftbench.BusDrain.drain(spark.sparkContext)
}

/** `graft.Bench`'s untimed warmup, operator family by operator family,
  * so the numbers here speak for the same session state as `Bench`'s.
  */
object Warmup {
  def run(spark: SparkSession, sfDir: String): Unit =
    try {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      spark.range(100000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/region.parquet").count()
      val w = spark.range(2000)
        .selectExpr("id", "id % 7 AS k", "md5(cast(id AS string)) AS s")
      val agg = w.groupBy("k").agg(count(lit(1)).as("c"))
      agg.join(w, "k").write.mode("overwrite").format("noop").save()
      w.join(broadcast(agg), "k").write.mode("overwrite").format("noop").save()
      w.withColumn("r", row_number().over(Window.partitionBy("k").orderBy("id")))
        .withColumn("l", lead("s", 1).over(Window.partitionBy("k").orderBy("id")))
        .orderBy("s").limit(50)
        .write.mode("overwrite").format("noop").save()
      w.selectExpr("explode(split(s, 'a')) AS t")
        .groupBy("t").count().orderBy("t").limit(10).collect()
      w.rollup("k").agg(sum("id")).write.mode("overwrite").format("noop").save()
      graft.Ckpt.cut(w.limit(100)).count()
      w.selectExpr(
          "posexplode(array(conv(substring(md5(s), 1, 8), 16, 10), '1'))",
          "cast(id AS decimal(38,0)) AS dv")
        .selectExpr("sum(dv)", "count(col)").collect()
      w.limit(50).as("a").join(w.limit(50).as("b"), expr("a.id > b.id"))
        .selectExpr("count(1)").collect()
      w.groupBy("k")
        .agg(slice(array_sort(collect_set("id")), 1, 5).as("b"))
        .selectExpr("explode(b)").selectExpr("count(1)").collect()
    } catch { case _: Throwable => () }
}

/** Task, stage and job totals per tag (the `perfbench.tag` local
  * property the harness sets before each construct, action or job).
  * The listener bus is single-threaded; readers drain it first.
  */
final class Counters extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, tasksOk, runMs, cpuNs, gcMs = 0L
    var shufW, shufR, spill, inputBytes = 0L
  }
  final class StageRec(val tag: String, val id: Int) {
    var submitMs, doneMs, shufW, shufWRecords, shufR, outRecords = 0L
    val taskShufR = mutable.ArrayBuffer.empty[Long]
  }
  private val stageTag = mutable.Map.empty[Int, String]
  private val accs = mutable.Map.empty[String, Acc]
  private val stageRecs = mutable.Map.empty[(String, Int), StageRec]

  private def acc(t: String) = accs.getOrElseUpdate(t, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val t = Option(e.properties).flatMap(p => Option(p.getProperty(Harness.TagKey)))
      .getOrElse("untagged")
    acc(t).jobs += 1
    e.stageIds.foreach(stageTag(_) = t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val t = stageTag.getOrElse(info.stageId, "untagged")
    acc(t).stages += 1
    val r = stageRecs.getOrElseUpdate((t, info.stageId), new StageRec(t, info.stageId))
    r.submitMs = info.submissionTime.getOrElse(0L)
    r.doneMs = info.completionTime.getOrElse(0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = stageTag.getOrElse(e.stageId, "untagged")
    val a = acc(t)
    a.tasks += 1
    if (e.reason == org.apache.spark.Success) a.tasksOk += 1
    val tm = e.taskMetrics
    if (tm != null) {
      val sr = tm.shuffleReadMetrics.remoteBytesRead + tm.shuffleReadMetrics.localBytesRead
      a.runMs += tm.executorRunTime
      a.cpuNs += tm.executorCpuTime
      a.gcMs += tm.jvmGCTime
      a.shufW += tm.shuffleWriteMetrics.bytesWritten
      a.shufR += sr
      a.spill += tm.memoryBytesSpilled + tm.diskBytesSpilled
      a.inputBytes += tm.inputMetrics.bytesRead
      val r = stageRecs.getOrElseUpdate((t, e.stageId), new StageRec(t, e.stageId))
      r.shufW += tm.shuffleWriteMetrics.bytesWritten
      r.shufWRecords += tm.shuffleWriteMetrics.recordsWritten
      r.shufR += sr
      r.outRecords += tm.outputMetrics.recordsWritten
      if (sr > 0) r.taskShufR += sr
    }
  }

  def get(t: String): Acc = synchronized(accs.getOrElse(t, new Acc))
  def stages(t: String): Seq[StageRec] = synchronized(
    stageRecs.values.filter(_.tag == t).toSeq.sortBy(_.id))

  /** Stage-level map/reduce view of one tag: map stages write shuffle
    * output, reduce stages read it (for `MapReduce.run`, exactly its map
    * and reduce sides).
    */
  def mapReduceJson(t: String): Json = {
    val ss = stages(t)
    val maps = ss.filter(_.shufW > 0)
    val reduces = ss.filter(_.shufR > 0)
    val perTask = reduces.flatMap(_.taskShufR).sorted
    val median = if (perTask.isEmpty) 0L else perTask(perTask.size / 2)
    new Json()
      .num("map_records", maps.map(_.shufWRecords).sum)
      .num("output_keys", reduces.map(_.outRecords).sum)
      .num("map_stage_s", maps.map(s => s.doneMs - s.submitMs).sum / 1e3)
      .num("reduce_stage_s", reduces.map(s => s.doneMs - s.submitMs).sum / 1e3)
      .num("reduce_skew", if (median == 0) 0.0 else perTask.last.toDouble / median)
  }

  /** The exec-layer counters of one tag as JSON. */
  def execJson(t: String): Json = {
    val a = get(t)
    new Json().num("jobs", a.jobs).num("stages", a.stages).num("tasks", a.tasks)
      .num("tasks_ok", a.tasksOk).num("task_run_s", a.runMs / 1e3)
      .num("task_cpu_s", a.cpuNs / 1e9).num("gc_s", a.gcMs / 1e3)
      .num("shuffle_write_bytes", a.shufW).num("shuffle_read_bytes", a.shufR)
      .num("spill_bytes", a.spill).num("input_bytes", a.inputBytes)
  }
}

/** Every successful SQL execution's QueryExecution, in arrival order.
  * The Catalyst phases come from the tracker of the executed write
  * command itself, so nothing is planned twice to measure it.
  */
final class QeLog extends QueryExecutionListener {
  private val events = mutable.ArrayBuffer.empty[QueryExecution]
  def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized(events += qe)
  def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def take(): Seq[QueryExecution] = synchronized {
    val r = events.toList
    events.clear()
    r
  }
}

object PlanShape extends AdaptiveSparkPlanHelper {
  def exchanges(p: SparkPlan): Int = collectWithSubqueries(p) { case e: Exchange => e }.size
}

/** In-memory spans: (name, query id, start, end) in epoch nanoseconds;
  * -1 is the run itself. A span's parent is the enclosing span of the
  * same query.
  */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[(String, Int, Long, Long)]
  def addEpoch(name: String, query: Int, startMs: Long, endMs: Long): Unit =
    buf += ((name, query, startMs * 1000000L, endMs * 1000000L))
  /** Times from System.nanoTime. */
  def addNs(name: String, query: Int, startNs: Long, endNs: Long): Unit =
    buf += ((name, query, Clock.epochNs(startNs), Clock.epochNs(endNs)))
  def json: String = buf.map { case (n, q, s, e) =>
    new Json().str("name", n).num("query", q).num("start_ns", s).num("end_ns", e).render
  }.mkString("[", ",", "]")
}

/** A tiny ordered JSON object builder (numbers, strings, nested objects). */
final class Json {
  private val fields = mutable.ArrayBuffer.empty[String]
  private def key(k: String) = "\"" + Json.esc(k) + "\":"
  def num(k: String, v: Double): Json = {
    fields += key(k) + (if (v.isNaN || v.isInfinite) "null"
      else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
      else v.toString)
    this
  }
  def num(k: String, v: Long): Json = { fields += key(k) + v.toString; this }
  def str(k: String, v: String): Json = { fields += key(k) + "\"" + Json.esc(v) + "\""; this }
  def obj(k: String, v: Json): Json = { fields += key(k) + v.render; this }
  def raw(k: String, v: String): Json = { fields += key(k) + v; this }
  def render: String = fields.mkString("{", ",", "}")
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def arr(xs: Seq[Json]): String = xs.map(_.render).mkString("[", ",", "]")
}

object Clock {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  /** A System.nanoTime reading as epoch nanoseconds. */
  def epochNs(nano: Long): Long = originMs * 1000000L + (nano - originNs)
  def compileNs: Long = CodeGenerator.compileTime
  def compileCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

/** Times one query (or MR job) as construct + action and, when tracing,
  * splits the action into Catalyst phases, codegen and exec self time.
  * Failures are recorded with their error class, never rethrown.
  */
object Measure {
  def apply[T <: Dataset[_]](ctx: Ctx, qid: Int, name: String)(construct: => T)(
      action: T => Unit): (Json, Option[T]) = {
    val spark = ctx.spark
    val reg0 = if (ctx.trace) registrySize(spark) else 0
    val constructStartMs = if (ctx.trace) System.currentTimeMillis() else 0L
    var cgA, cgcA, actionStartMs = 0L
    var error: Option[Throwable] = None
    var built: Option[T] = None
    ctx.tag(s"q$qid.construct")
    val t0 = System.nanoTime()
    var t1 = t0
    try {
      val v = construct
      built = Some(v)
      t1 = System.nanoTime()
      if (ctx.trace) {
        cgA = Clock.compileNs
        cgcA = Clock.compileCount
        actionStartMs = System.currentTimeMillis()
      }
      ctx.tag(s"q$qid.action")
      action(v)
    } catch { case e: Throwable => error = Some(e) }
    val t2 = System.nanoTime()
    val actionEndMs = System.currentTimeMillis()
    ctx.tag(null)
    ctx.drain()
    val r = new Json().str("name", name).num("qid", qid)
    error match {
      case Some(e) =>
        r.str("status", "error").str("error_class", e.getClass.getName)
          .str("error", String.valueOf(e.getMessage).take(300))
      case None => r.str("status", "ok")
    }
    r.num("wall_s", (t2 - t0) / 1e9).num("construct_s", (t1 - t0) / 1e9)
      .num("action_s", (t2 - t1) / 1e9)
      .num("input_bytes", ctx.counters.get(s"q$qid.action").inputBytes +
        ctx.counters.get(s"q$qid.construct").inputBytes)
    if (ctx.trace) {
      ctx.spans.addNs("query", qid, t0, t2)
      ctx.spans.addNs("catalog.construct", qid, t0, t1)
      ctx.spans.addNs("action", qid, t1, t2)
      val ok = error.isEmpty
      r.num("construct_jobs", ctx.counters.get(s"q$qid.construct").jobs)
        .num("registry_delta", registrySize(spark) - reg0)
        .num("codegen_classes", if (ok) Clock.compileCount - cgcA else 0L)
        .num("codegen_compile_s", if (ok) (Clock.compileNs - cgA) / 1e9 else 0.0)
      // the executed write command: the last QueryExecution planned inside
      // the action window. Phases are clipped to their window, since a
      // tracker can be shared across Datasets and start earlier.
      val write = ctx.qeLog.take().filter(
        _.tracker.phases.get("planning").exists(_.startTimeMs >= actionStartMs - 1))
        .lastOption.filter(_ => ok)
      def phase(qe: Option[QueryExecution], p: String, from: Long, to: Long, span: String) = {
        val clipped = qe.flatMap(_.tracker.phases.get(p))
          .map(s => (math.max(s.startTimeMs, from), math.min(s.endTimeMs, to)))
          .filter { case (s, e) => e >= s }
        clipped.foreach { case (s, e) => ctx.spans.addEpoch(span, qid, s, e) }
        clipped.map { case (s, e) => (e - s) / 1e3 }.getOrElse(0.0)
      }
      val ph = new Json()
        // the constructed Dataset's own analysis, inside the catalog lambda
        .num("construct_analysis_s", phase(built.filter(_ => ok).map(_.queryExecution),
          "analysis", constructStartMs, actionStartMs, "catalog.construct.analysis"))
      for (p <- Seq("analysis", "optimization", "planning"))
        ph.num(p + "_s", phase(write, p, actionStartMs, actionEndMs, s"catalyst.$p"))
      ph.num("exchanges", write.map(qe => PlanShape.exchanges(qe.executedPlan)).getOrElse(0))
      r.obj("catalyst", ph)
        .obj("exec", ctx.counters.execJson(s"q$qid.action"))
        .obj("mr", ctx.counters.mapReduceJson(s"q$qid.action"))
    }
    (r, if (error.isEmpty) built else None)
  }

  def registrySize(spark: SparkSession): Int =
    spark.sessionState.functionRegistry.listFunction().size
}

object Catalog {
  /** Untimed: other catalog queries, run before the timed pass so that
    * its queries find the JIT and the shared table scans as warm as they
    * are in `Bench`'s one-JVM pass over the whole catalog. The names
    * share no fit memo with the timed queries. Returns the failures.
    */
  def prime(ctx: Ctx, names: Seq[String]): Seq[Json] = {
    val all = graft.SparkEntry.queries
    ctx.tag("prime")
    val errors = names.flatMap { name =>
      try {
        all(name)(ctx.spark, ctx.data).write.mode("overwrite").format("noop").save()
        None
      } catch {
        case e: Throwable =>
          Some(new Json().str("name", name).str("error_class", e.getClass.getName))
      }
    }
    ctx.tag(null)
    errors
  }

  def run(ctx: Ctx, names: Seq[String], hash: Set[String], countOnly: Set[String],
      out: Json): Unit = {
    val all = graft.SparkEntry.queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.mkString(",")}")
    val runStart = System.nanoTime()
    val results = names.zipWithIndex.map { case (name, qid) =>
      Measure(ctx, qid, name)(all(name)(ctx.spark, ctx.data))(
        _.write.mode("overwrite").format("noop").save())
    }
    val runEnd = System.nanoTime()
    if (ctx.trace) ctx.spans.addNs("run", -1, runStart, runEnd)
    out.num("pass_s", (runEnd - runStart) / 1e9)
    out.raw("queries", Json.arr(results.map(_._1)))
    if (hash.nonEmpty) {
      // after the timed pass, never between timed queries; the hash
      // re-executes the DataFrame the timed pass built
      val h0 = System.nanoTime()
      ctx.tag("hash")
      val hashes = names.zip(results).collect { case (name, (_, Some(df))) if hash(name) =>
        val h = new Json().str("name", name)
        try {
          if (countOnly(name)) h.num("rows", df.count())
          else h.str("hash", graft.RowHash.of(df))
        } catch { case e: Throwable => h.str("error_class", e.getClass.getName) }
      }
      ctx.tag(null)
      out.num("hash_s", (System.nanoTime() - h0) / 1e9)
      out.raw("hashes", Json.arr(hashes))
    }
  }
}

object Mr {
  import graft.apps.MrApps
  import graft.mr.{MapReduce, TextIO}

  /** `jobs` wc and indexer jobs, alternately. Each job is scan → map →
    * one shuffle → sorted streaming reduce → text sink.
    */
  val apps = Seq(
    ("wc", MrApps.wcMap, MrApps.wcReduce),
    ("indexer", MrApps.indexerMap, MrApps.indexerReduce))

  /** Untimed: two wc + indexer pairs over the same corpus, so the timed
    * jobs do not include the MR path's first-use cost, nor the JIT's
    * recompiles while the shared map and reduce call sites see both
    * apps' closures (one pair left the first timed wc 20-40% slower).
    * Nothing is kept between jobs, so each timed job still reads, maps
    * and shuffles the whole corpus. Returns the failures.
    */
  def prime(ctx: Ctx, corpus: String, outDir: String, nReduce: Int): Seq[Json] = {
    ctx.tag("prime")
    val errors = (apps ++ apps).zipWithIndex.flatMap { case ((app, mapFn, reduceFn), i) =>
      try {
        TextIO.writeTextSink(MapReduce.run(ctx.spark,
          TextIO.wholeTextFiles(ctx.spark, s"$corpus/*.txt"), mapFn, reduceFn, nReduce),
          s"$outDir/$i-$app")
        None
      } catch {
        case e: Throwable =>
          Some(new Json().str("name", app).str("error_class", e.getClass.getName))
      }
    }
    ctx.tag(null)
    errors
  }

  def run(ctx: Ctx, corpus: String, outDir: String, jobs: Int, nReduce: Int,
      out: Json): Unit = {
    val records = mutable.ArrayBuffer.empty[Json]
    val start = System.nanoTime()
    for (i <- 0 until jobs) {
      val (app, mapFn, reduceFn) = apps(i % 2)
      val dir = s"$outDir/$i-$app"
      val (r, _) = Measure(ctx, i, app) {
        MapReduce.run(ctx.spark, TextIO.wholeTextFiles(ctx.spark, s"$corpus/*.txt"),
          mapFn, reduceFn, nReduce)
      }(TextIO.writeTextSink(_, dir))
      records += r.str("out", dir)
    }
    val end = System.nanoTime()
    if (ctx.trace) ctx.spans.addNs("run", -1, start, end)
    out.num("pass_s", (end - start) / 1e9)
    out.raw("queries", Json.arr(records.toSeq))
  }
}

/** Per-row cost of the native pair kernels against the SQL lambda
  * spellings they replaced (the pairs `NativeKernelExprSpec` pins), over
  * seeded buckets whose sizes follow a skewed distribution. Runs in the
  * traced JVM only, after everything else.
  */
object Kernels {
  import org.apache.spark.sql.functions._
  import graft.functions.{HammingPairStructs, NewPairStructs, OrderedPairStructs, PairStructs}

  /** (kernel, native spelling, the SQL lambda spelling it replaced) */
  val Specs: Seq[(String, String, String)] = Seq(
    ("PairStructs", "pair_structs(basket)",
      """flatten(transform(basket,
        |  (x, i) -> transform(slice(basket, i + 2, size(basket) - i - 1),
        |                      y -> struct(x AS part_a, y AS part_b))))""".stripMargin),
    ("OrderedPairStructs", "ordered_pair_structs(ds_ord)",
      """flatten(transform(ds_ord, (x, i) ->
        |  transform(filter(ds_ord, (y, j) -> j > i), y -> named_struct(
        |    'doc_a', IF(x.doc_id < y.doc_id, x.doc_id, y.doc_id),
        |    'n_a',   IF(x.doc_id < y.doc_id, x.n_doc, y.n_doc),
        |    'doc_b', IF(x.doc_id < y.doc_id, y.doc_id, x.doc_id),
        |    'n_b',   IF(x.doc_id < y.doc_id, y.n_doc, x.n_doc)))))""".stripMargin),
    ("NewPairStructs", "new_pair_structs(ds_new)",
      """flatten(transform(ds_new, (x, i) ->
        |  transform(filter(ds_new, (y, j) -> j > i AND (x.is_new OR y.is_new)),
        |    y -> named_struct(
        |      'a', least(x.doc_id, y.doc_id),
        |      'b', greatest(x.doc_id, y.doc_id),
        |      'nn', x.is_new AND y.is_new))))""".stripMargin),
    ("HammingPairStructs", "hamming_pair_structs(ds_ham)",
      """flatten(transform(ds_ham, (x, i) ->
        |  transform(filter(ds_ham, (y, j) -> j > i), y -> named_struct(
        |    'a', least(x.doc_id, y.doc_id),
        |    'b', greatest(x.doc_id, y.doc_id),
        |    'h', bit_count(x.lo ^ y.lo) + bit_count(x.hi ^ y.hi)))))""".stripMargin))

  def run(ctx: Ctx, seed: Long, out: Json): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    PairStructs.register(spark)
    OrderedPairStructs.register(spark)
    NewPairStructs.register(spark)
    HammingPairStructs.register(spark)
    ctx.tag("kernels")
    // bucket sizes: 2 + floor(64 * u^3), so most buckets are small and a
    // few hold up to 65 elements
    val rnd = new scala.util.Random(seed)
    val buckets = (0 until 3000).map { b =>
      val n = 2 + (64 * math.pow(rnd.nextDouble(), 3)).toInt
      (b.toLong, Seq.fill(n)((rnd.nextInt(1 << 20).toLong, rnd.nextLong(), rnd.nextBoolean())))
    }
    val base = buckets.toDF("k", "xs").select(
      $"k",
      expr("transform(xs, e -> e._1)").as("basket"),
      expr("transform(xs, e -> named_struct('doc_id', e._1, 'n_doc', e._2 % 1000))").as("ds_ord"),
      expr("transform(xs, e -> named_struct('doc_id', e._1, 'is_new', e._3))").as("ds_new"),
      expr("transform(xs, e -> named_struct('doc_id', e._1, 'lo', e._2, 'hi', e._2 ^ (e._1 * 2654435761)))")
        .as("ds_ham"))
    val input = base.localCheckpoint()
    input.count()
    def time(spelling: String): (Double, Long) = {
      val df = input.select($"k", explode(expr(spelling)).as("p"))
      df.write.mode("overwrite").format("noop").save() // compile + warm
      val rows = df.count()
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0).toDouble
      }.sorted
      (ts(1) / math.max(rows, 1L), rows)
    }
    val res = new Json()
    for ((k, nativeSql, lambdaSql) <- Specs) {
      val (nNs, nRows) = time(nativeSql)
      val (sNs, sRows) = time(lambdaSql)
      require(nRows == sRows, s"$k: native $nRows rows vs SQL spelling $sRows")
      res.obj(k, new Json().num("ns_per_row", nNs).num("sql_ns_per_row", sNs)
        .num("rows", nRows))
    }
    ctx.tag(null)
    out.obj("kernels", res)
  }
}
