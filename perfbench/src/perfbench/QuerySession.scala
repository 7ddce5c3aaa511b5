package perfbench

import org.apache.spark.sql.Row
import scala.jdk.CollectionConverters._

/** `query_session`: one long-lived session runs a list of the `SparkEntry`
  * queries (`--param queries=a,b,...`) pass after pass over the tables
  * run.py generated. The first (cold) pass is set-up;
  * each later pass is one step. Every query is collected to the driver, so
  * its whole result is computed; the last pass's results are written for the
  * DuckDB and property checks.
  */
object QuerySession {

  /** Session queries whose oracle is a committed fixture, not SQL: checked
    * by properties instead. */
  val PropertyChecked: Set[String] = Set("q_minhash_pairs", "q_minhash_clusters", "q_simhash")

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val sc = spark.sparkContext
    val queries = graft.SparkEntry.queries
    val names = c.args.param("queries").split(",").toSeq
    var last = Map.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]

    val tables = c.path("tables")
    def pass(kind: String, traced: Boolean): Double = {
      val w0 = System.currentTimeMillis()
      var total = 0.0
      val results = names.flatMap { name =>
        var got: Option[(Array[Row], org.apache.spark.sql.types.StructType)] = None
        def q(): Unit = {
          val df = queries(name)(spark, tables)
          got = Some((df.collect(), df.schema))
        }
        val t = c.op(kind, name) {
          if (traced) c.tracer.span(s"query.$name")(q()) else q()
        }
        total += t.getOrElse(0.0)
        got.map(name -> _)
      }
      last = results.toMap
      val w = c.rec.window(w0, System.currentTimeMillis())
      val storage = sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
      c.out.put("session.jobs", w.jobs.toDouble, into = kind)
      c.out.put("session.retained_rdds", storage.length.toDouble, into = kind)
      c.out.put("session.retained_mb",
        storage.map(s => s.memSize + s.diskSize).sum / (1024.0 * 1024.0), into = kind)
      total
    }

    val t0 = System.nanoTime()
    c.out.put("setup_s", Seq(pass("setup", traced = false)), into = "setup")
    c.kernelTexts(spark.read.parquet(s"$tables/documents.parquet").select("text"))
    JvmStats.reset()
    val start = System.nanoTime()
    var passes = 0
    c.rounds(start) { r =>
      val traced = c.args.trace && r % 2 == 1
      if (traced) {
        c.tracer.round = r
        c.tracer.span("session.pass")(pass("traced_pass", traced = true))
      } else pass("pass", traced = false)
      passes += 1
    }
    if (c.args.trace && passes < 2) {
      c.tracer.round = passes
      c.tracer.span("session.pass")(pass("traced_pass", traced = true))
    }
    c.out.put("measure_s", (System.nanoTime() - start) / 1e9)
    c.out.put("setup_wall_s", (start - t0) / 1e9)

    if (c.args.trace) {
      names.foreach(n => c.spanMetrics(s"query.$n"))
      c.layerSelfTimes()
    }

    // outputs of the last pass, for the checks
    last.foreach { case (name, (rows, schema)) =>
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(c.path(s"out/$name"))
    }
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) =>
      names.contains(k) && !PropertyChecked(k)
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(c.path("oracle_sql.json")),
      Json.obj(oracles).getBytes("UTF-8"))
  }
}
