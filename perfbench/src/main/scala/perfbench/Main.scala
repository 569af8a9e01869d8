package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** One run's settings, from the command line. */
final case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean,
                     work: Path, cores: Int) {
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
}

/** A workload: inputs made from the seed, timed iterations, output
  * checks, and the per-layer breakdown its traced run reports. */
abstract class Workload {
  /** Untimed preparation, repeated to measure set-up; each call leaves
    * fresh inputs for the iterations that follow. */
  def setup(spark: SparkSession, rep: Int): Unit
  /** Rows the workload reads per iteration, for `rows_per_s`. */
  def inputRows: Long
  /** Iterations run after the cold one and discarded while the JIT settles. */
  def warmupIterations: Int = 4
  /** Fewest successful warm (and traced) iterations a run takes. */
  def minWarm: Int = 3
  /** One-time preparation after the inputs, charged to set-up. */
  def prime(): Unit = ()
  /** Untimed state reset before each iteration. */
  def beforeIteration(spark: SparkSession): Unit = ()
  /** One iteration, accounted in `r` under `label`: its wall seconds, or
    * None if it failed. Traced iterations pass the tracer, so a workload
    * made of several operations can trace each on its own. */
  def iterate(spark: SparkSession, r: Report, label: String, tracer: Option[Tracer]): Option[Double]
  /** Output checks, after timing. */
  def verify(spark: SparkSession, r: Report): Unit
  /** Traced run only, after the traced iterations and with the listeners
    * still registered: reports the per-layer metrics and checks what the
    * layer accounting can get wrong, given the untraced and traced warm
    * medians. */
  def layers(spark: SparkSession, r: Report, warmS: Double, tracedS: Double): Unit
}

/** A workload whose iteration is one operation. */
abstract class OneStep extends Workload {
  /** One iteration; it fails by throwing. */
  def run(spark: SparkSession): Unit
  def iterate(spark: SparkSession, r: Report, label: String, tracer: Option[Tracer]): Option[Double] =
    r.attempt(label)(run(spark))
}

object Main {
  val SetupReps = 3
  /** Share by which two measurements of the same work, a minute apart in
    * one JVM, may differ on a shared host. */
  val NoiseShare = 0.25

  private def parse(argv: Array[String]): Map[String, String] =
    argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val c = Ctx(a("workload"), a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
      Paths.get(sys.props.getOrElse("perfbench.work", "perfbench-work")).toAbsolutePath,
      Runtime.getRuntime.availableProcessors)
    val w: Workload = c.workload match {
      case "zh_enrich" => new ZhEnrichBench(c)
      case "zh_jdbc_writeback" => new JdbcBench(c)
      case "catalog_heavy" => new CatalogBench(c)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val r = new Report
    val steal0 = Session.stealSeconds()
    val spark = runWorkload(w, c, r)
    r.info("host_steal_s") = (Session.stealSeconds() - steal0).toString
    r.info("stop_s") = Stats.time(try spark.stop() catch { case NonFatal(_) => }).toString
    r.info("jvm_s") = ((System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3).toString
    println(r.detailJson(c.workload))
    println(r.resultJson)
    System.out.flush()
    System.exit(if (r.correct) 0 else 1)
  }

  private def runWorkload(w: Workload, c: Ctx, r: Report): SparkSession = {
    val t0 = System.nanoTime()
    val spark = Session.start(c)
    val sessionS = Stats.seconds(t0)
    val setups = (0 until SetupReps).map(rep => Stats.time(w.setup(spark, rep)))
    val engineWarmS = Stats.time { Session.warmEngine(spark, c); w.prime() }
    val setupS = sessionS + Stats.median(setups) + engineWarmS
    r.info("session_s") = sessionS.toString
    r.info("setup_reps_s") = setups.mkString(",")
    r.info("engine_warm_s") = engineWarmS.toString

    val cpu = scala.collection.mutable.ArrayBuffer[Double]()
    def iteration(label: String): Option[Double] = {
      w.beforeIteration(spark)
      val c0 = Session.processCpuS()
      val t = w.iterate(spark, r, label, None)
      cpu += Session.processCpuS() - c0
      t
    }
    // Both measured phases start from a collected heap.
    System.gc()
    val cold = iteration("cold")
    // The JIT settles over the first few iterations; they are run but
    // not counted.
    val discarded = (0 until w.warmupIterations).map(n => iteration(s"warmup#$n"))
    System.gc()
    val warm = r.loop(c.seconds, w.minWarm, maxRuns = 100)(n => iteration(s"warm#$n"))
    r.info("cold_s") = cold.map(_.toString).getOrElse("failed")
    r.info("warmup_s") = discarded.flatten.mkString(",")
    r.info("warm_s") = warm.mkString(",")
    r.info("cpu_s") = cpu.mkString(",")
    r.check("cold iteration succeeded", cold.isDefined, r.failures.mkString("; "))
    r.check("at least one warm iteration succeeded", warm.nonEmpty, r.failures.mkString("; "))
    val warmS = if (warm.nonEmpty) Stats.median(warm) else Double.NaN
    if (!c.trace) {
      r.metric("setup_s", setupS, "s")
      r.metric("cold_s", cold.getOrElse(Double.NaN), "s")
      r.metric("warm_s", warmS, "s")
      r.metric("rows_per_s", w.inputRows / warmS, "rows/s")
    } else {
      val tracer = new Tracer(spark)
      val windows = (0 until w.minWarm).flatMap { n =>
        w.beforeIteration(spark)
        var t: Option[Double] = None
        val win = tracer.window { t = w.iterate(spark, r, s"traced#$n", Some(tracer)) }
        t.map(_ => win)
      }
      r.check("traced iterations succeeded", windows.nonEmpty, r.failures.mkString("; "))
      windows.zipWithIndex.foreach { case (win, i) => Tracer.check(s"traced#$i", win, r) }
      val tracedS = if (windows.isEmpty) Double.NaN else {
        val traced = Tracer.median(windows)
        Tracer.sparkMetrics(traced, r)
        traced.wallS
      }
      try w.layers(spark, r, warmS, tracedS)
      catch { case NonFatal(e) => r.check("layer measurements ran", ok = false, s"$e") }
      tracer.close()
      r.metric("trace.overhead_s", tracedS - warmS, "s")
      r.metric("warm_samples", warm.size, "count")
      r.metric("error_rate", r.failed.toDouble / r.attempted, "ratio")
    }
    val tv = System.nanoTime()
    try w.verify(spark, r)
    catch { case NonFatal(e) => r.check("output checks ran", ok = false, s"$e") }
    r.info("verify_s") = Stats.seconds(tv).toString
    if (!c.trace) r.metric("peak_rss_mb", Session.peakRssMb(), "MB")
    spark
  }
}

object Session {
  def start(c: Ctx): SparkSession = {
    val spark = graft.GraftSession.builder(c.cores.toString)
      .config("spark.local.dir", c.dir("spark-local").toString)
      .config("spark.sql.queryExecutionListeners", classOf[PlanningListener].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Materializes every row and column of `df` without writing it out. */
  def noop(df: org.apache.spark.sql.DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Generic engine warm-up (shuffle, aggregation, codegen), so the cold
    * iteration is charged with the workload's own first-run costs rather
    * than the scheduler's. */
  def warmEngine(spark: SparkSession, c: Ctx): Unit =
    noop(spark.range(0, 200000, 1, c.cores).selectExpr("id % 1000 AS k", "CAST(id AS STRING) AS v")
      .groupBy("k").agg(org.apache.spark.sql.functions.max("v")))

  /** Builds the conversion kernel's transliterators on the driver thread.
    * ICU compiles a transliterator's rules on first use and caches them,
    * and every later instance shares the cached rules, which it locks on
    * each call. Unprimed, the first parallel iteration races: executor
    * threads that miss the cache together each compile a private copy
    * that no other thread locks, and how many do sets the JVM's speed for
    * its lifetime. Primed, every executor thread shares one copy, as in
    * any JVM where a conversion ran before (NOTES.md, "Per-JVM levels"). */
  def primeZh(): Unit = { graft.functions.Zh.toSimplified("漢"); graft.functions.Zh.toTraditional("汉") }

  /** CPU time the hypervisor gave to other guests, summed over CPUs:
    * context for a run that reads slow. */
  def stealSeconds(): Double = {
    val cpu = scala.io.Source.fromFile("/proc/stat").getLines().next().split("\\s+")
    cpu(8).toDouble / 100.0
  }

  def processCpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(throw new IllegalStateException("no VmHWM"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
