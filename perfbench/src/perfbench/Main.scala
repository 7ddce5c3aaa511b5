package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** JVM side of the benchmark: runs one workload in Spark local mode, times
  * it, and writes what it measured (plus the outputs to check) into the
  * run's work directory. `run.py` builds this, starts it, checks the outputs
  * and prints the metrics.
  *
  * usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --cores <n> --work <dir> [--param k=v ...]
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, work: String, params: Map[String, String]) {
    def param(k: String): String =
      params.getOrElse(k, throw new IllegalArgumentException(s"missing --param $k"))
    def double(k: String): Double = param(k).toDouble
    def int(k: String): Int = param(k).toInt
  }

  private def parse(argv: Array[String]): Args = {
    val m = mutable.HashMap.empty[String, String]
    val params = mutable.HashMap.empty[String, String]
    var i = 0
    while (i < argv.length) {
      require(argv(i).startsWith("--") && i + 1 < argv.length, s"bad argument: ${argv(i)}")
      if (argv(i) == "--param") {
        val Array(k, v) = argv(i + 1).split("=", 2)
        params(k) = v
      } else m(argv(i).drop(2)) = argv(i + 1)
      i += 2
    }
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("cores").toInt, m("work"), params.toMap)
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.default.parallelism", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      // off: on inputs this small, adaptive execution runs every shuffle
      // stage as a job of its own (83 jobs for one incremental batch instead
      // of 28), and the per-job cost would swamp the program's own work
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a.cores, a.work)
    val out = new Result
    try {
      val rec = new JobRecorder(spark.sparkContext)
      val tracer = new Tracer(spark.sparkContext)
      val ctx = new Ctx(spark, a, rec, tracer, out)
      a.workload match {
        case "batch_dedup" => BatchDedup.run(ctx)
        case "incremental_probe" => IncrementalProbe.run(ctx)
        case "query_session" => QuerySession.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload: $w")
      }
      if (a.trace) ctx.writeSpans()
      out.put("jvm.gc_s", JvmStats.gcS)
      out.put("jvm.peak_heap_mb", JvmStats.peakHeapMb)
    } finally {
      spark.stop()
      out.write(s"${a.work}/result.json")
    }
  }
}

/** What one run shares: the session, arguments, listener, tracer and result. */
final class Ctx(val spark: SparkSession, val args: Main.Args, val rec: JobRecorder,
    val tracer: Tracer, val out: Result) {

  def path(name: String): String = s"${args.work}/$name"

  /** Round the next operations belong to; -1 while setting up. */
  var round: Int = -1

  /** Runs `f` until `args.seconds` have passed since `start`, and at least
    * `--param min_rounds` times. Each call is one whole round of the
    * workload's operations. */
  def rounds(start: Long)(f: Int => Unit): Unit = {
    val min = args.params.get("min_rounds").fold(1)(_.toInt)
    var r = 0
    while (r < min || (System.nanoTime() - start) / 1e9 < args.seconds) {
      round = r; f(r); r += 1
    }
  }

  /** One timed operation. A throw counts as failed and contributes no time;
    * the recorded work is every Spark job started during the call. */
  def op(kind: String, name: String)(f: => Unit): Option[Double] = {
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val ok =
      try { f; None }
      catch { case scala.util.control.NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val secs = (System.nanoTime() - t0) / 1e9
    val w = rec.window(w0, System.currentTimeMillis())
    out.op(kind, name, round, ok, secs, w)
    if (ok.isEmpty) Some(secs) else None
  }

  /** Materializes a stage result once: cached, counted, kept for the next
    * stage to read. Returns the row count. */
  def materialize(df: DataFrame): Long = {
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df.count()
  }

  /** Layer metrics of one traced span: task seconds, shuffle write and skew
    * from the recorder, wall and self time from the tracer. */
  def spanMetrics(name: String): Unit = {
    val ss = tracer.spans.filter(_.name == name)
    if (ss.nonEmpty) {
      val ws = ss.map(s => rec.group(tracer.groupOf(name, s.round)))
      out.putMedian(s"${name}_s", ss.map(_.durS).toSeq)
      out.putMedian(s"${name}_task_s", ws.map(_.taskS).toSeq)
      out.putMedian(s"${name}_shuffle_mb", ws.map(_.shuffleWriteMb).toSeq)
      out.putMedian(s"${name}_skew", ws.map(_.skew).toSeq)
    }
  }

  /** Per-layer self time: for each span-name prefix before the first dot,
    * the median over traced rounds of the summed self time of its spans. */
  def layerSelfTimes(): Unit = {
    val byLayer = tracer.spans.groupBy(s => (s.name.takeWhile(_ != '.'), s.round))
      .map { case ((layer, _), ss) => layer -> ss.map(tracer.selfS).sum }
      .groupBy(_._1)
    byLayer.foreach { case (layer, vs) =>
      out.putMedian(s"self.$layer", vs.map(_._2).toSeq, into = "self_s")
    }
  }

  /** Traced runs only: single-thread signature-kernel cost on up to 2,000 of
    * the workload's own texts (the one-column `texts` frame). */
  def kernelTexts(texts: DataFrame): Unit =
    if (args.trace) kernelUsPerDoc(texts.limit(2000).collect().map(_.getString(0)))

  private def kernelUsPerDoc(texts: Array[String]): Unit = {
    val k = new graft.pipeline.DocSig.Kernel(graft.kernel.GraftConfig.default)
    var i = 0
    while (i < texts.length) { k.compute(s"w$i", texts(i)); i += 1 } // JIT warm-up
    val reps = math.max(1, 20000 / math.max(1, texts.length))
    val t0 = System.nanoTime()
    var r = 0
    while (r < reps) {
      i = 0
      while (i < texts.length) { k.compute(s"u$i", texts(i)); i += 1 }
      r += 1
    }
    out.put("kernel.us_per_doc", (System.nanoTime() - t0) / 1e3 / (reps.toLong * texts.length))
  }

  def writeSpans(): Unit = {
    val rows = tracer.spans.map { s =>
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "parent" -> s.parent, "round" -> s.round))
    }
    out.putRaw("spans", rows.mkString("[", ",", "]"))
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: Iterable[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

object Result {
  def median(vs: Seq[Double]): Double = {
    val s = vs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

/** Everything a run reports back to run.py, rendered as one JSON object. */
final class Result {
  private val ops = mutable.ArrayBuffer.empty[String]
  private val values = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, Any]]
  private val raw = mutable.LinkedHashMap.empty[String, String]

  def op(kind: String, name: String, round: Int, error: Option[String], secs: Double,
      w: Work): Unit =
    ops += Json.obj(Seq("kind" -> kind, "name" -> name, "round" -> round, "ok" -> error.isEmpty,
      "error" -> error.orNull, "s" -> secs, "jobs" -> w.jobs, "task_s" -> w.taskS,
      "shuffle_mb" -> w.shuffleWriteMb, "skew" -> w.skew))

  def put(key: String, v: Any, into: String = "values"): Unit =
    values.getOrElseUpdate(into, mutable.LinkedHashMap.empty)(key) = v

  def putMedian(key: String, vs: Seq[Double], into: String = "values"): Unit =
    if (vs.nonEmpty) put(key, Result.median(vs), into)

  def putRaw(key: String, json: String): Unit = raw(key) = json

  def write(file: String): Unit = {
    val parts = Seq(s"${Json.str("ops")}:${ops.mkString("[", ",", "]")}") ++
      values.map { case (k, m) => s"${Json.str(k)}:${Json.obj(m)}" } ++
      raw.map { case (k, j) => s"${Json.str(k)}:$j" }
    java.nio.file.Files.write(java.nio.file.Paths.get(file),
      parts.mkString("{", ",", "}\n").getBytes("UTF-8"))
  }
}
