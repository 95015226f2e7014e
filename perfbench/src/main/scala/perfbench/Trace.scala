package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** Writes a run's record — metrics, host annotation and, for a traced run,
  * its spans — to `<out>/<workload>-seed<n>-trace<t>-<time>.json`. */
object Trace {
  def write(args: Main.Args, t: Tracer, metrics: Seq[(String, Double, String)],
      annotation: String): Unit = {
    args.out.mkdirs()
    val ms = metrics.map { case (n, v, u) => s""""$n":{"value":${Json.num(v)},"unit":"$u"}""" }
    val spans = if (t.enabled) t.jsonLines.mkString("[\n", ",\n", "\n]") else "[]"
    val body = s"""{"workload":"${args.workload}","seed":${args.seed},"trace":${args.trace},""" +
      s""""annotation":$annotation,"metrics":{${ms.mkString(",")}},"spans":$spans}""" + "\n"
    val f = new File(args.out,
      s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}-${System.currentTimeMillis}.json")
    Files.write(f.toPath, body.getBytes(UTF_8))
  }
}
