package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** Recorded output digests of a workload, one flat JSON object of strings
  * (`expected/<workload>.json`). The seed only permutes a workload's
  * inputs, so one record holds for every seed. */
object Expected {

  private val Entry = "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r

  def read(f: File): Map[String, String] =
    if (!f.isFile) Map.empty
    else Entry.findAllMatchIn(new String(Files.readAllBytes(f.toPath), UTF_8))
      .map(m => m.group(1) -> m.group(2)).toMap

  def write(f: File, d: Map[String, String]): Unit = {
    f.getParentFile.mkdirs()
    val body = d.toSeq.sortBy(_._1).map { case (k, v) => s"""  "$k": "$v"""" }
    Files.write(f.toPath, body.mkString("{\n", ",\n", "\n}\n").getBytes(UTF_8))
  }

  /** Mismatch descriptions; a missing record is a mismatch too. */
  def compare(expected: Map[String, String], got: Map[String, String]): Seq[String] =
    if (expected.isEmpty) Seq("no recorded digests")
    else (expected.keySet ++ got.keySet).toSeq.sorted.flatMap { k =>
      (expected.get(k), got.get(k)) match {
        case (Some(a), Some(b)) if a == b => None
        case (a, b) => Some(s"$k expected ${a.getOrElse("-")} got ${b.getOrElse("-")}")
      }
    }
}
