package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.etl.EtlPipeline
import graft.etl.EtlPipeline.RunResult

/** What a workload reports after its measuring window. Metrics are
  * (name, value, unit). */
final case class Result(endToEnd: Seq[(String, Double, String)],
    perLayer: Seq[(String, Double, String)], digests: Map[String, String],
    attempted: Int, failed: Int, checksOk: Boolean)

trait Workload {
  /** Generates the inputs under `dir`. */
  def prepare(spark: SparkSession, dir: File, seed: Long): Workload.Inputs
  /** One untimed pass, so the timed passes do not pay first-use costs
    * (class loading, JIT, generated code). */
  def warmUp(spark: SparkSession, in: Workload.Inputs): Unit
  /** Runs until `args.seconds` have passed (at least one pass). */
  def measure(spark: SparkSession, in: Workload.Inputs, args: Main.Args, probe: Probe,
      clock: Etl.CampusClock, t: Tracer): Result
}

object Workload {
  trait Inputs

  /** Fleet: 6 small campuses, 2 per format, about 3k to 20k canonical rows
    * each. */
  val FleetSizes: Seq[Int] = Seq(1200, 2600, 4000, 5400, 6800, 7600)
  val WarmSizes: Seq[Int] = Seq(3000, 3000, 3000)

  /** Gates whose construction time the traced run reports one by one. */
  val ConstructGates: Seq[String] = Seq("agg_spearman", "causal_dr_ate",
    "er_fastss_trace", "clean_csv_roundtrip", "dedup_cluster_sizes")

  def apply(name: String, root: File): Workload = name match {
    case "etl_fleet" => new EtlWorkload(root)
    case "gates_core" => new GateWorkload(root)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Counters over one traced or untraced pass. */
  final case class Window(wallS: Double, c: Counters, gcS: Double, heapMb: Double)

  def window[T](spark: SparkSession, probe: Probe)(body: => T): (T, Window) = {
    val sc = spark.sparkContext
    val c0 = probe.snapshot(sc)
    val gc0 = Probe.gcSeconds()
    Probe.resetHeapPeak()
    val t0 = System.nanoTime()
    val out = body
    val wall = (System.nanoTime() - t0) / 1e9
    val c1 = probe.snapshot(sc)
    (out, Window(wall, c1 - c0, Probe.gcSeconds() - gc0, Probe.heapPeakMb()))
  }

  val MB: Double = 1048576.0

  /** The engine-wide per-layer metrics of a traced window. */
  def engineMetrics(w: Window, cpus: Int): Seq[(String, Double, String)] = Seq(
    ("spark.tasks", w.c(Probe.Tasks).toDouble, "count"),
    ("spark.task_wait_s", w.c(Probe.WaitNs) / 1e9, "s"),
    ("spark.cpu_util", w.c(Probe.CpuNs) / 1e9 / (w.wallS * cpus), "ratio"),
    ("spark.spill_mb", w.c(Probe.Spill) / MB, "MB"),
    ("jvm.gc_s", w.gcS, "s"),
    ("jvm.heap_peak_mb", w.heapMb, "MB"))

  /** Element-wise median of several metric lists with the same names. */
  def medianMetrics(runs: Seq[Seq[(String, Double, String)]]): Seq[(String, Double, String)] =
    runs.head.map { case (n, _, u) =>
      (n, Stats.median(runs.map(_.find(_._1 == n).get._2)), u)
    }

  /** Traced against untraced wall, in percent. The callers leave out the
    * first untraced pass, which still runs slower after the warm-up. */
  def overheadPct(traced: Seq[Double], untraced: Seq[Double]): Double =
    (Stats.median(traced) / Stats.median(untraced) - 1.0) * 100.0

  /** Names every per-layer metric; a workload that does not exercise a
    * layer reports it as 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "extract.wall_s" -> "s", "extract.cpu_s" -> "s", "extract.jobs" -> "count",
    "extract.rows_out" -> "rows", "extract.keep_ratio" -> "ratio",
    "clean.wall_s" -> "s", "clean.cpu_s" -> "s", "clean.shuffle_mb" -> "MB",
    "clean.keep_ratio" -> "ratio",
    "rules.wall_s" -> "s", "rules.quarantine_ratio" -> "ratio",
    "sink.wall_s" -> "s", "sink.files" -> "count", "sink.mb_written" -> "MB",
    "etl.self_s" -> "s", "etl.jobs_per_campus" -> "count", "etl.read_amp" -> "bytes/byte",
    "meta.wall_s" -> "s", "meta.jobs" -> "count",
    "gate.construct_s" -> "s", "gate.construct_jobs" -> "count", "gate.plan_s" -> "s",
    "gate.exec_s" -> "s", "gate.exec_jobs" -> "count", "gate.tasks" -> "count",
    "gate.cpu_s" -> "s", "gate.shuffle_mb" -> "MB", "gate.cache_builds" -> "count") ++
    ConstructGates.map(g => s"gate.$g.construct_s" -> "s") ++ Seq(
    "spark.tasks" -> "count", "spark.task_wait_s" -> "s", "spark.cpu_util" -> "ratio",
    "spark.spill_mb" -> "MB", "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB",
    "trace.overhead_pct" -> "%")

  def fill(ms: Seq[(String, Double, String)]): Seq[(String, Double, String)] =
    PerLayer.map { case (n, u) => (n, ms.find(_._1 == n).map(_._2).getOrElse(0.0), u) }
}

/** `etl_fleet`: one healthcare system through `runSystem`. */
final class EtlWorkload(root: File) extends Workload {
  import Workload._

  final case class EtlInputs(keys: Gen.Keys, raw: File, registry: File, rawBytes: Long,
      campuses: Seq[Gen.Campus], offered: Long, batches: File) extends Inputs

  private def dataDir = new File(root, "data/sf0.01").getAbsolutePath

  private def write(spark: SparkSession, keys: Gen.Keys, cs: Seq[Gen.Campus],
      dir: File, seed: Long): EtlInputs = {
    val raw = new File(dir, "raw")
    val rawBytes = Gen.writeRaw(keys, cs, raw, seed)
    val reg = new File(dir, "registry")
    Gen.writeRegistry(spark, cs, reg.getAbsolutePath, seed)
    val batches = new File(dir, "batches")
    batches.mkdirs()
    EtlInputs(keys, raw, reg, rawBytes, cs, cs.map(c => Gen.offeredPairs(keys, c)).sum, batches)
  }

  def prepare(spark: SparkSession, dir: File, seed: Long): Inputs = {
    val keys = Gen.loadKeys(spark, dataDir)
    write(spark, keys, Gen.campuses(FleetSizes), dir, seed)
  }

  /** A three-campus system, one fleet-sized campus per format, through the
    * same entry point. */
  def warmUp(spark: SparkSession, inputs: Inputs): Unit = {
    val in = inputs.asInstanceOf[EtlInputs]
    val warm = write(spark, in.keys, Gen.campuses(WarmSizes), new File(in.batches, "warm"), 0L)
    val (base, reg) = Etl.freshBase(warm.batches, warm.raw, warm.registry)
    EtlPipeline.runSystem(spark, reg, Gen.SystemName, base.getAbsolutePath, Etl.ProcessedBy)
  }

  final case class Batch(wallS: Double, results: Seq[RunResult], campusS: Seq[Double],
      base: File, registry: String)

  private def batch(spark: SparkSession, in: EtlInputs, clock: Etl.CampusClock,
      t: Tracer): Batch = {
    val (base, reg) = Etl.freshBase(in.batches, in.raw, in.registry)
    clock.reset()
    t.clear()
    val t0 = System.nanoTime()
    val results =
      if (t.enabled) Etl.tracedSystem(spark, t, reg, base.getAbsolutePath)
      else EtlPipeline.runSystem(spark, reg, Gen.SystemName, base.getAbsolutePath, Etl.ProcessedBy)
    val wall = (System.nanoTime() - t0) / 1e9
    val campusS =
      if (t.enabled) t.records.filter(_.span.name == "etl.campus").map(_.span.seconds)
      else {
        val endMs = System.currentTimeMillis()
        org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
        Etl.campusSeconds(clock.intervals.values.toSeq, endMs)
      }
    Batch(wall, results, campusS, base, reg)
  }

  /** Every campus ran, and every format yielded clean and quarantined rows. */
  private def batchOk(in: EtlInputs, b: Batch): Int = {
    val byId = b.results.map(r => r.campusId -> r).toMap
    in.campuses.count { c =>
      byId.get(c.id).forall(r => r.cleanRows <= 0 || r.violationRows <= 0) ||
        !byId.contains(c.id)
    }
  }

  private def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  def measure(spark: SparkSession, inputs: Inputs, args: Main.Args, probe: Probe,
      clock: Etl.CampusClock, t: Tracer): Result = {
    val in = inputs.asInstanceOf[EtlInputs]
    val plain = new Tracer(spark.sparkContext, probe, false)
    val deadline = System.nanoTime() + args.seconds * 1000000000L
    val untraced = ArrayBuffer.empty[Batch]
    val traced = ArrayBuffer.empty[(Batch, Seq[(String, Double, String)])]
    var failed = 0
    var digests = Map.empty[String, String]
    var checksOk = true
    var last: Batch = null
    def keep(b: Batch): Unit = {
      failed += batchOk(in, b)
      if (last != null) delete(last.base)
      last = b
    }
    def untracedBatch(): Unit = {
      val b = batch(spark, in, clock, plain)
      untraced += b
      if (digests.isEmpty) digests = Etl.outputDigests(spark, b.base, b.registry, b.results)
      keep(b)
    }
    do {
      untracedBatch()
      if (t.enabled) {
        val (tb, w) = window(spark, probe)(batch(spark, in, clock, t))
        val d = Etl.outputDigests(spark, tb.base, tb.registry, tb.results)
        if (d != digests) {
          System.err.println(s"[perfbench] traced outputs differ: $d vs $digests")
          checksOk = false
        }
        if (!spansCoverCampuses(t)) checksOk = false
        traced += ((tb, layerMetrics(t, tb, w, in, args.cpus)))
        keep(tb)
      }
    } while (System.nanoTime() < deadline)
    // The overhead compares traced batches with the untraced ones after the
    // first, so one more untraced batch closes the run.
    if (t.enabled) untracedBatch()

    val walls = untraced.map(_.wallS).toSeq
    val endToEnd = Seq(
      ("batch_s", Stats.median(walls), "s"),
      ("item_s.p50", Stats.median(untraced.flatMap(_.campusS).toSeq), "s"),
      ("write_amp", Stats.amplification(Etl.bytesWritten(last.base, in.rawBytes), in.rawBytes),
        "bytes/byte"))
    val perLayer =
      if (!t.enabled) Nil
      else fill(medianMetrics(traced.map(_._2).toSeq) :+
        (("trace.overhead_pct", overheadPct(traced.map(_._1.wallS).toSeq, walls.drop(1)), "%")))
    val attempted = (untraced.size + traced.size) * in.campuses.size
    Result(endToEnd, perLayer, digests, attempted, failed, checksOk)
  }

  /** For each campus, its self time plus its child spans equal its wall. */
  private def spansCoverCampuses(t: Tracer): Boolean = {
    val recs = t.records
    val self = t.selfSeconds
    recs.indices.filter(i => recs(i).span.name == "etl.campus").forall { i =>
      val kids = recs.indices.filter(j => recs(j).span.parent == i)
      val covered = self(i) + kids.map(j => recs(j).span.seconds).sum
      val ok = math.abs(covered - recs(i).span.seconds) < 1e-6
      if (!ok) System.err.println(s"[perfbench] campus span $i: ${recs(i).span.seconds} vs $covered")
      ok
    }
  }

  private def layerMetrics(t: Tracer, b: Batch, w: Window, in: EtlInputs,
      cpus: Int): Seq[(String, Double, String)] = {
    val recs = t.records
    val self = t.selfSeconds
    def of(layer: String) = recs.filter(_.layer == layer)
    def wall(layer: String) = of(layer).map(_.span.seconds).sum
    def sum(layer: String, k: Probe.Key) = of(layer).map(_.counters(k)).sum.toDouble
    val campuses = recs.filter(_.span.name == "etl.campus")
    val rows = b.results.map(_.extractedRows).sum.toDouble
    val cleanRows = b.results.map(_.cleanRows).sum.toDouble
    val violationRows = b.results.map(_.violationRows).sum.toDouble
    val written = Etl.bytesWritten(b.base, in.rawBytes)
    val files = Stats.treeFiles(b.base) - in.campuses.size
    Seq(
      ("extract.wall_s", wall("extract"), "s"),
      ("extract.cpu_s", sum("extract", Probe.CpuNs) / 1e9, "s"),
      ("extract.jobs", sum("extract", Probe.Jobs), "count"),
      ("extract.rows_out", rows, "rows"),
      ("extract.keep_ratio", rows / in.offered, "ratio"),
      ("clean.wall_s", wall("clean"), "s"),
      ("clean.cpu_s", sum("clean", Probe.CpuNs) / 1e9, "s"),
      ("clean.shuffle_mb", (sum("clean", Probe.ShuffleRead) + sum("clean", Probe.ShuffleWrite)) / MB, "MB"),
      ("clean.keep_ratio", (cleanRows + violationRows) / rows, "ratio"),
      ("rules.wall_s", wall("rules"), "s"),
      ("rules.quarantine_ratio", violationRows / (cleanRows + violationRows), "ratio"),
      ("sink.wall_s", wall("sink"), "s"),
      ("sink.files", files.toDouble, "count"),
      ("sink.mb_written", written / MB, "MB"),
      ("etl.self_s", recs.indices.filter(i => recs(i).layer == "etl").map(self).sum, "s"),
      ("etl.jobs_per_campus", campuses.map(_.counters(Probe.Jobs)).sum.toDouble / campuses.size, "count"),
      ("etl.read_amp", Stats.amplification(w.c(Probe.BytesIn), in.rawBytes), "bytes/byte"),
      ("meta.wall_s", wall("meta"), "s"),
      ("meta.jobs", sum("meta", Probe.Jobs), "count")) ++ engineMetrics(w, cpus)
  }
}

/** `gates_core`: the gate list in `gates.txt`, in a seeded order. */
final class GateWorkload(root: File) extends Workload {
  import Workload._

  final case class GateInputs(order: Seq[String]) extends Inputs

  private def tables = new File(root, "data/sf0.01").getAbsolutePath

  def prepare(spark: SparkSession, d: File, seed: Long): Inputs =
    GateInputs(new scala.util.Random(seed).shuffle(Gates.load(new File(root, "gates.txt"))))

  /** One untimed pass over the gate list; the files a gate writes once per
    * session are then in place for every timed pass. */
  def warmUp(spark: SparkSession, inputs: Inputs): Unit =
    pass(spark, inputs.asInstanceOf[GateInputs], new Tracer(spark.sparkContext, null, false))

  private def pass(spark: SparkSession, in: GateInputs, t: Tracer): Seq[Gates.Timing] = {
    Gates.resetCaches(spark)
    t.clear()
    in.order.map(g => Gates.run(spark, t, g, tables))
  }

  def measure(spark: SparkSession, inputs: Inputs, args: Main.Args, probe: Probe,
      clock: Etl.CampusClock, t: Tracer): Result = {
    val in = inputs.asInstanceOf[GateInputs]
    val plain = new Tracer(spark.sparkContext, probe, false)
    val deadline = System.nanoTime() + args.seconds * 1000000000L
    val untraced = ArrayBuffer.empty[(Seq[Gates.Timing], Window)]
    val traced = ArrayBuffer.empty[(Window, Seq[(String, Double, String)])]
    var digests = Map.empty[String, String]
    var checksOk = true
    def check(ts: Seq[Gates.Timing]): Unit = {
      val d = ts.map(g => g.name -> g.digest.toString).toMap
      if (digests.isEmpty) digests = d
      else if (d != digests) {
        System.err.println(s"[perfbench] gate results changed between passes")
        checksOk = false
      }
    }
    def untracedPass(): Unit = {
      val (ts, w) = window(spark, probe)(pass(spark, in, plain))
      check(ts)
      untraced += ((ts, w))
    }
    do {
      untracedPass()
      if (t.enabled) {
        val (tts, tw) = window(spark, probe)(pass(spark, in, t))
        check(tts)
        traced += ((tw, layerMetrics(t, tts, tw, args.cpus)))
      }
    } while (System.nanoTime() < deadline)
    if (t.enabled) untracedPass()

    val suites = untraced.map(_._1.map(_.totalS).sum).toSeq
    val endToEnd = Seq(
      ("batch_s", Stats.median(suites), "s"),
      ("item_s.p50", Stats.median(untraced.map(p => Stats.median(p._1.map(_.totalS))).toSeq), "s"),
      ("write_amp", Stats.median(untraced.map { case (_, w) =>
        Stats.amplification(w.c(Probe.ShuffleWrite) + w.c(Probe.BytesOut), w.c(Probe.BytesIn))
      }.toSeq), "bytes/byte"))
    val perLayer =
      if (!t.enabled) Nil
      else fill(medianMetrics(traced.map(_._2).toSeq) :+
        (("trace.overhead_pct", overheadPct(traced.map(_._1.wallS).toSeq,
          untraced.map(_._2.wallS).toSeq.drop(1)), "%")))
    val attempted = (untraced.size + traced.size) * in.order.size
    Result(endToEnd, perLayer, digests, attempted, 0, checksOk)
  }

  private def layerMetrics(t: Tracer, ts: Seq[Gates.Timing], w: Window,
      cpus: Int): Seq[(String, Double, String)] = {
    val recs = t.records
    def named(n: String) = recs.filter(_.span.name == n)
    def wall(n: String) = named(n).map(_.span.seconds).sum
    def sum(n: String, k: Probe.Key) = named(n).map(_.counters(k)).sum.toDouble
    val all = recs.filter(_.layer == "gate")
    def total(k: Probe.Key) = all.map(_.counters(k)).sum.toDouble
    Seq(
      ("gate.construct_s", wall("gate.construct"), "s"),
      ("gate.construct_jobs", sum("gate.construct", Probe.Jobs), "count"),
      ("gate.plan_s", wall("gate.plan"), "s"),
      ("gate.exec_s", wall("gate.execute"), "s"),
      ("gate.exec_jobs", sum("gate.execute", Probe.Jobs), "count"),
      ("gate.tasks", total(Probe.Tasks), "count"),
      ("gate.cpu_s", total(Probe.CpuNs) / 1e9, "s"),
      ("gate.shuffle_mb", (total(Probe.ShuffleRead) + total(Probe.ShuffleWrite)) / MB, "MB"),
      ("gate.cache_builds", ts.map(_.cacheBuilds).sum.toDouble, "count")) ++
      ConstructGates.flatMap(g => ts.find(_.name == g)
        .map(x => (s"gate.$g.construct_s", x.constructS, "s"))) ++
      engineMetrics(w, cpus)
  }
}
