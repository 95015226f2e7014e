package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, started by `perfbench/run.py`.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --root DIR --scratch DIR --out DIR --cpus N [--record]
  *
  * `--root` is the perfbench directory (bundled data, gate list, expected
  * digests); `--scratch` is the invocation's own scratch root; `--out`
  * receives the run record with the host annotation and spans. Prints the
  * metrics, then one JSON result line; exits 1 when an output check fails.
  */
object Main {

  /** Session starts per run; their median goes into `setup_s`. */
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      root: File, scratch: File, out: File, cpus: Int, record: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m.getOrElse("trace", "0") == "1",
      new File(m("root")), new File(m("scratch")), new File(m("out")),
      m.getOrElse("cpus", "4").toInt,
      a.contains("--record"))
  }

  def main(argv: Array[String]): Unit =
    try run(parse(argv))
    catch {
      case e: Throwable =>
        System.err.println("[perfbench] run failed:")
        e.printStackTrace()
        sys.exit(1)
    }

  private def run(args: Args): Unit = {
    val wl = Workload(args.workload, args.root)
    val host0 = Host.sample()
    val probe = new Probe
    val clock = new Etl.CampusClock

    // Set-up: session start and input generation, several times (only the
    // last session and its inputs are kept), then one warm-up pass.
    var spark: SparkSession = null
    var inputs: Workload.Inputs = null
    val startS = (1 to SetupReps).map { rep =>
      if (spark != null) { Gates.resetCaches(spark); spark.stop() }
      val t0 = System.nanoTime()
      spark = Session.start(args.cpus, args.scratch)
      spark.sparkContext.addSparkListener(probe)
      spark.sparkContext.addSparkListener(clock)
      inputs = wl.prepare(spark, new File(args.scratch, s"setup-$rep"), args.seed)
      (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    wl.warmUp(spark, inputs)
    val warmS = (System.nanoTime() - t0) / 1e9
    val setupS = Stats.median(startS) + warmS

    val tracer = new Tracer(spark.sparkContext, probe, args.trace)
    val res = wl.measure(spark, inputs, args, probe, clock, tracer)
    val host1 = Host.sample()

    val expectedFile = new File(args.root, s"expected/${args.workload}.json")
    val mismatches =
      if (args.record) { Expected.write(expectedFile, res.digests); Nil }
      else Expected.compare(Expected.read(expectedFile), res.digests)
    mismatches.foreach(m => System.err.println(s"[perfbench] digest mismatch: $m"))

    val metrics: Seq[(String, Double, String)] =
      if (args.trace) res.perLayer
      else Seq(("setup_s", setupS, "s")) ++ res.endToEnd
    val failed = res.failed + (if (mismatches.nonEmpty) 1 else 0)
    val correct = failed == 0 && res.checksOk

    val annotation = Host.annotation(host0, host1)
    val extra = Seq(("fail_frac", failed.toDouble / math.max(1, res.attempted), "ratio"),
      ("setup.warm_up_s", warmS, "s")) ++
      startS.zipWithIndex.map { case (s, i) => (s"setup.start_s.rep$i", s, "s") }
    (metrics ++ extra).foreach { case (n, v, u) => println(f"  $n%-34s $v%14.6f $u") }
    println(s"annotation $annotation")
    Trace.write(args, tracer, metrics, annotation)

    val ms = metrics.map { case (n, v, u) => s""""$n":{"value":${Json.num(v)},"unit":"$u"}""" }
    Gates.resetCaches(spark)
    spark.stop()
    println(s"""{"correct":$correct,"attempted":${res.attempted},"failed":$failed,""" +
      s""""metrics":{${ms.mkString(",")}}}""")
    sys.exit(if (correct) 0 else 1)
  }
}

/** Number formatting for the result line. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
