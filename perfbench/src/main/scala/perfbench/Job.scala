package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** One benchmark JVM: build the session the way `graft.Run.main` does, run
  * the plan's steps one after another, then check their committed outputs.
  *
  * {{{
  * java -cp <classes>:<spark jars> perfbench.Job <plan.json> <report.json>
  * }}}
  *
  * A plan is `{"cpus": n, "steps": [{"label", "opts", "arrive"}], "checks":
  * [...], "trace": true}`. Each step is one `graft.Run.runWith` call with
  * `opts` as its `--key value` options, after copying the `arrive` files
  * (`[from, to]` pairs) into place untimed; `"trace": true` runs the steps
  * through the spanned copy of the job in [[Trace]] instead. Checks run after every step has
  * finished, so they are never inside a timed interval. The report carries
  * epoch-millisecond marks (session ready, step start/end) for the caller to
  * turn into times, plus each check's pairwise F1 and partition digest. */
object Job {

  implicit val formats: Formats = DefaultFormats

  /** Session built exactly as `graft.Run.main` builds it, with the master
    * pinned to `local[cpus]`. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder().appName("graft-er")
      .master(s"local[$cpus]")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions",
      spark.sparkContext.defaultParallelism.toString)
    graft.functions.register(spark)
    spark
  }

  /** The job JVM's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: perfbench.Job <plan.json> <report.json>")
    val plan = JsonMethods.parse(
      new String(Files.readAllBytes(Paths.get(args(0))), StandardCharsets.UTF_8))
    val report = scala.collection.mutable.LinkedHashMap[String, JValue]()
    def write(): Unit = Files.write(Paths.get(args(1)),
      JsonMethods.compact(JsonMethods.render(JObject(report.toList))).getBytes(StandardCharsets.UTF_8))
    val spark = session((plan \ "cpus").extract[Int])
    report("ready_ms") = JLong(System.currentTimeMillis())
    var failed = false
    try {
      val tracer = if ((plan \ "trace").extractOrElse[Boolean](false))
        Some(new Trace(spark)) else None
      val snapshots = scala.collection.mutable.Map[String, Map[String, Int]]()
      val steps = (plan \ "steps").extract[List[JObject]].map { s =>
        val opts = (s \ "opts").extract[Map[String, String]]
        (s \ "arrive").extractOrElse[List[List[String]]](Nil).foreach {
          case List(from, to) => Files.copy(Paths.get(from), Paths.get(to))
          case other => sys.error(s"arrive entries are [from, to] pairs: $other")
        }
        val t0 = System.currentTimeMillis()
        val metrics = tracer.fold(graft.Run.runWith(spark, opts))(_.runWith(opts))
        val t1 = System.currentTimeMillis()
        val io = new graft.io.TableIO(opts("output"))
        snapshots((s \ "label").extract[String]) = Seq("clusters", "stream_clusters")
          .flatMap(st => io.latestSnapshot(st).map(st -> _)).toMap
        JObject("label" -> s \ "label", "start_ms" -> JLong(t0),
          "end_ms" -> JLong(t1), "metrics" -> JsonMethods.parse(metrics))
      }
      report("steps") = JArray(steps)
      tracer.foreach(t => report("trace") = t.report())
      report("checks") = JArray((plan \ "checks").extract[List[JObject]]
        .map(Checks.run(spark, _, snapshots.toMap)))
    } catch {
      case e: Throwable =>
        failed = true
        val sw = new java.io.StringWriter()
        e.printStackTrace(new java.io.PrintWriter(sw))
        report("error") = JString(sw.toString.take(4000))
    }
    report("peak_rss_mb") = JDouble(peakRssMb())
    write()
    spark.stop()
    if (failed) sys.exit(1)
  }
}
