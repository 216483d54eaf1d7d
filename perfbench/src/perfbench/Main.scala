package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line options passed by run.py. `inputs` holds the generated
  * inputs, `work` is scratch space the run owns, `out` the result file. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    traced: Boolean, inputs: String, work: String, out: String)

/** Entry point of the benchmark JVM: one workload per process. Writes a
  * result file for run.py, which checks outputs and prints the metrics. */
object Main {
  val Cores = 4

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("inputs"), m("work"), m("out"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val bootS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    log("session up")
    val run = new Run(spark, if (o.traced) Some(new Trace(spark)) else None)
    val outcome =
      try {
        o.workload match {
          case "chain_lifecycle" => ChainLifecycle.run(run, o)
          case "corpus_4x" => Corpus.run(run, o)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        None
      } catch { case e: Throwable => e.printStackTrace(); Some(e) }
    run.metrics("boot_s") = bootS
    run.metrics("peak_rss_mb") = peakRssMb()
    if (o.traced) {
      run.layers("jvm.gc_s") = ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum / 1e3
      run.layers("jvm.heap_peak_mb") = ManagementFactory.getMemoryPoolMXBeans
        .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0
    }
    log("workload done")
    writeResult(run, o, outcome)
    spark.stop()
    // the result is written and the session stopped: skip the shutdown
    // hooks, which can hold the exit for tens of seconds after freeze
    // and follow mode, and run.py removes the work directory anyway
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(if (outcome.nonEmpty) 3 else 0)
  }

  /** progress line on stderr, with seconds since the JVM started */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${(System.currentTimeMillis() -
    ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%7.1fs $msg")

  /** peak resident set of this JVM (VmHWM), in MB */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  private def obj(m: collection.Map[String, Double]): String =
    m.map { case (k, v) => s"${q(k)}:${num(v)}" }.mkString("{", ",", "}")

  def writeResult(run: Run, o: Opts, failure: Option[Throwable]): Unit = {
    val ops = run.ops.map(p => s"""{"kind":${q(p.kind)},"name":${q(p.name)},""" +
      s""""s":${num(p.seconds)},"ok":${p.ok},"counted":${p.counted},"error":${q(p.error)}}""")
    val spans = run.spans.sortBy(_.id).map(s => s"""{"id":${s.id},"parent":${s.parent},""" +
      s""""name":${q(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    val json = s"""{"workload":${q(o.workload)},"seed":${o.seed},""" +
      s""""failure":${failure.map(e => q(e.toString)).getOrElse("null")},""" +
      s""""metrics":${obj(run.metrics)},"layers":${obj(run.layers)},""" +
      s""""ops":${ops.mkString("[", ",", "]")},""" +
      s""""spans":${spans.mkString("[", ",", "]")}}"""
    Files.writeString(Paths.get(o.out), json)
  }

  /** copy a generated input directory tree, so that a timed round reads
    * a path no earlier pass has memoized */
  def copyTree(src: String, dst: String): String = {
    val s = Paths.get(src)
    val d = Paths.get(dst)
    Files.walk(s).iterator().asScala.foreach { p =>
      val t = d.resolve(s.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }
    dst
  }

  def dirBytes(dir: String): Long =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Run rounds of `round` while another one fits in the run length;
    * always at least one. Rounds are whole, so the share of failed
    * operations is the same however long the run is. */
  def rounds(o: Opts)(round: Int => Unit): Int = {
    val t0 = System.nanoTime()
    var n = 0
    var last = 0.0
    while (n == 0 || (System.nanoTime() - t0) / 1e9 + last <= o.seconds) {
      val r0 = System.nanoTime()
      log(s"round $n")
      round(n)
      last = (System.nanoTime() - r0) / 1e9
      n += 1
    }
    n
  }
}
