package perfbench

/** Host-load annotation stored beside every run, as `graft.Bench` records
  * it: hypervisor steal over the run, 1/5/15-minute load averages at start
  * and end, and the number of other JVMs. A run with high steal or a busy
  * host identifies itself without a re-run. */
object Host {

  final case class Sample(load: Seq[Double], steal: Long, ticks: Long, otherJvms: Long)

  def sample(): Sample = {
    val load = try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      s.trim.split("\\s+").take(3).toSeq.map(_.toDouble)
    } catch { case _: Throwable => Seq(-1.0, -1.0, -1.0) }
    // user..steal only: guest time is already folded into user.
    val (steal, ticks) = try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val l = try src.getLines().next() finally src.close()
      val f = l.trim.split("\\s+").drop(1).take(8).map(_.toLong)
      (f(7), f.sum)
    } catch { case _: Throwable => (-1L, -1L) }
    val jvms = try {
      val self = java.lang.ProcessHandle.current().pid
      java.lang.ProcessHandle.allProcesses()
        .filter(p => p.pid != self && p.info().command().map[Boolean] { c =>
          c.substring(c.lastIndexOf('/') + 1) == "java"
        }.orElse(false))
        .count()
    } catch { case _: Throwable => -1L }
    Sample(load, steal, ticks, jvms)
  }

  def annotation(a: Sample, b: Sample): String = {
    val stealPct =
      if (a.steal < 0 || b.steal < 0 || b.ticks <= a.ticks) -1.0
      else 100.0 * (b.steal - a.steal) / (b.ticks - a.ticks).toDouble
    def la(s: Sample) = s.load.map(v => f"$v%.2f").mkString("[", ",", "]")
    f"""{"steal_pct":$stealPct%.3f,"la_start":${la(a)},"la_end":${la(b)},""" +
      s""""other_jvms":${a.otherJvms}}"""
  }
}
