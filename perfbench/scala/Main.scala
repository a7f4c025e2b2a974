package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Everything one run shares: the session, the tracer, the listener and the
  * run record the workload fills. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val counters: SparkCounters,
                val seed: Long, val seconds: Double, val out: Path, val data: Path,
                val nproc: Int) {
  val rec = new java.util.LinkedHashMap[String, Object]()
  def put(k: String, v: Any): Unit = rec.put(k, Json.toJava(v))
  def trace: Boolean = tracer.enabled
  def dir(name: String): String = out.resolve(name).toString
}

/** JVM side of the benchmark: runs one workload and writes its raw record
  * (samples, counters, spans, check inputs) to `<out>/record.json`. The
  * Python front end turns the record into metrics and checks the outputs.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                       --out DIR --data DIR */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val out = Paths.get(opt("out"))
    Files.createDirectories(out)
    val nproc = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val counters = new SparkCounters
    val trace = opt("trace") == "1"
    // the listener runs in traced runs only, so untraced runs measure the
    // program alone
    if (trace) spark.sparkContext.addSparkListener(counters)
    val ctx = new Ctx(spark, new Tracer(trace, spark.sparkContext), counters,
      opt("seed").toLong, opt("seconds").toDouble, out, Paths.get(opt("data")), nproc)
    ctx.put("workload", workload)
    ctx.put("seed", ctx.seed)
    ctx.put("nproc", nproc)
    ctx.put("session_s", sessionS)
    ctx.put("spark_conf", spark.conf.getAll)
    ctx.put("jvm_flags", java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq)
    try {
      workload match {
        case "kg_build"        => Workloads.build(ctx)
        case "kg_serve_update" => Workloads.serveUpdate(ctx)
        case other             => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      if (trace) {
        // a workload may have recorded its own totals before extra work
        if (!ctx.rec.containsKey("spark")) ctx.put("spark", counters.total.toMap)
        ctx.put("spans", ctx.tracer.all.map { s =>
          val g = counters.groups.get(s"span-${s.id}").map(_.toMap).getOrElse(Map.empty)
          Map("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "layer" -> s.layer,
            "name" -> s.name, "start_ns" -> (s.startNs - t0), "end_ns" -> (s.endNs - t0),
            "spark" -> g)
        })
      }
      ctx.put("peak_rss_mb", Main.peakRssMb())
      Files.writeString(out.resolve("record.json"), Json.mapper.writeValueAsString(ctx.rec))
    } finally spark.stop()
  }

  /** High-water resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

object Json {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Scala values → the Java collections Jackson writes. */
  def toJava(v: Any): Object = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Object]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_]    => a.toSeq.map(toJava).asJava
    case o: Option[_]   => o.map(toJava).orNull
    case null           => null
    case x              => x.asInstanceOf[Object]
  }
}
