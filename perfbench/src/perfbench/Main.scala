package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._

/** The benchmark's JVM side: one SparkSession, one client thread, a closed
  * loop of ops for `--seconds`, then a JSON record of every op, span and
  * counter for perfbench/run.py to turn into metrics.
  *
  * Usage: perfbench.Main --workload W --seconds S --trace 0|1 --cores N
  *   --in DIR --scratch DIR --tmp DIR --out FILE --t0-ms EPOCH_MS
  */
object Main {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def files(dir: File): Seq[File] =
    Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
      .flatMap(f => if (f.isDirectory) files(f) else Seq(f))

  private def wipe(dir: File): Unit = Option(dir.listFiles()).foreach(_.foreach { f =>
    if (f.isDirectory) wipe(f)
    f.delete()
  })

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def time(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
  }

  /** Kernel probes, each run alone over a persisted in-memory input:
    * median seconds of three runs ÷ rows.
    */
  private def probes(spark: SparkSession, cores: Int): Map[String, Double] = {
    def probe(n: Long, df: org.apache.spark.sql.DataFrame)(run: org.apache.spark.sql.DataFrame => Unit) = {
      df.persist().count()
      val ts = (1 to 3).map(_ => time(run(df))).sorted
      df.unpersist(true)
      ts(1) / n * 1e9
    }
    val ids = (n: Long) => spark.range(0L, n, 1L, cores)
    val nHisto = 1000000L
    val histo = probe(nHisto, ids(nHisto).select(((col("id") * 7919L % 16384L) / 64.0).as("x"))) { df =>
      df.agg(graft.functions.HistogramAggExpr.histo(col("x"), 64, 0.0, 256.0)).collect(); ()
    }
    val nSets = 5000L
    val (as, bs) = graft.ops.Dedup.seedArrays(32)
    val minhash = probe(nSets, ids(nSets).select(transform(sequence(lit(0), lit(49)),
        i => concat(lit("w"), ((col("id") * 31L + i * 17L) % 5000L).cast("string"))).as("sh"))) { df =>
      df.agg(sum(element_at(graft.functions.TextHashExprs.minhashSig(col("sh"), as, bs), 1) % 1000L))
        .collect(); ()
    }
    val nPairs = 200000L
    val code = (salt: Long) =>
      transform(sequence(lit(0), lit(31)), i => ((col("id") * (i + salt)) % 255L - 127L).cast("int"))
    val dot = probe(nPairs, ids(nPairs).select(code(1L).as("a"), code(7L).as("b"))) { df =>
      df.agg(sum(graft.functions.VectorExprs.dotInt(col("a"), col("b")))).collect(); ()
    }
    Map("functions.histo_ns_per_row" -> histo, "functions.minhash_ns_per_row" -> minhash,
      "functions.dotint_ns_per_pair" -> dot)
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = a("cores").toInt
    val trace = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val scratch = new File(a("scratch"))
    scratch.mkdirs()
    sys.props("graft.scratch.root") = scratch.getPath

    val phase0 = System.nanoTime()
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def phase(name: String): Unit = phases(name) = (System.nanoTime() - phase0) / 1e9
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", a("tmp"))
      .config("spark.sql.warehouse.dir", s"${a("tmp")}/warehouse")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // one scan task per input file: the split layout must not move with
      // the few-percent file-size differences between seeds
      .config("spark.sql.files.openCostInBytes", "128m")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    phase("session")

    val tr = new Tracer
    val listeners = new Listeners(spark, tr)
    val w = Workload(a("workload"), spark, a("in"), scratch.getPath)
    w.setup()
    phase("references")
    var warmupFailures = Seq.empty[String]
    for (_ <- 1 to w.warmups if warmupFailures.isEmpty) {
      wipe(scratch)
      warmupFailures = Try(w.op(tr)).flatMap(check => Try(check())).fold(e => Seq(e.toString), identity)
    }
    phase("warmups")
    val ops = Seq.newBuilder[Map[String, Any]]
    val setupJvm = (System.currentTimeMillis() - a("t0-ms").toLong) / 1e3
    val cpu0 = os.getProcessCpuTime
    val loop0 = System.nanoTime()
    var i = 0
    while (System.nanoTime() - loop0 < seconds * 1e9) {
      val traced = trace && i % 2 == 0
      wipe(scratch)
      if (traced) listeners.attach()
      tr.op = i
      tr.tracing = traced
      val (gc0, comp0, compNs0) =
        (gcSeconds, CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
      val t0 = System.nanoTime()
      val result = Try(tr.span("op")(w.op(tr)))
      val wall = (System.nanoTime() - t0) / 1e9
      if (traced) listeners.detach()
      tr.tracing = false
      val failures = result match {
        case Success(check) => Try(check()).fold(e => Seq(s"check threw $e"), identity)
        case Failure(e) => Seq(s"op threw $e")
      }
      failures.foreach(f => System.err.println(s"perfbench: op $i failed: $f"))
      val (counters, samples) = tr.takeCounters()
      val base = Map[String, Any]("i" -> i, "traced" -> traced, "wall_s" -> wall,
        "failures" -> failures)
      ops += (if (!traced) base else {
        val storage = sc.getRDDStorageInfo
        val written = files(scratch)
        base ++ Map(
          "counters" -> (counters ++ Map(
            "jvm.gc_s" -> (gcSeconds - gc0),
            "codegen.compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - comp0).toDouble,
            "codegen.compile_s" -> (CodeGenerator.compileTime - compNs0) / 1e9,
            "blocks.held_end" -> storage.map(_.numCachedPartitions).sum.toDouble,
            "blocks.bytes_held_end" -> storage.map(s => s.memSize + s.diskSize).sum.toDouble,
            "io.files_written" -> written.size.toDouble)),
          "samples" -> samples)
      })
      i += 1
    }
    val loopWall = (System.nanoTime() - loop0) / 1e9
    val loopCpu = (os.getProcessCpuTime - cpu0) / 1e9
    val probed = if (trace) probes(spark, cores) else Map.empty[String, Double]
    phase("probes")
    val out = Map[String, Any](
      "workload" -> a("workload"), "cores" -> cores,
      "setup_jvm_s" -> setupJvm, "setup_phases" -> phases.toMap, "loop_s" -> loopWall, "loop_cpu_s" -> loopCpu,
      "rows_per_op" -> w.rowsPerOp, "warmups" -> w.warmups, "warmup_failures" -> warmupFailures,
      "ops" -> ops.result(), "probes" -> probed,
      "spans" -> tr.spans.asScala.toSeq.map(s => Map("op" -> s.op, "name" -> s.name,
        "start" -> s.start, "end" -> s.end, "parent" -> s.parent)),
      "peak_rss_mb" -> peakRssMb)
    Files.write(Paths.get(a("out")), Json(out).getBytes("UTF-8"))
    spark.stop()
  }
}

/** Minimal JSON writer for the record above. */
object Json {
  private def quote(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")

  def apply(v: Any): String = v match {
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}
