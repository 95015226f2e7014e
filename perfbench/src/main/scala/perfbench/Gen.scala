package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.SparkSession

/** Input generator for the ETL workloads: one healthcare system's registry
  * plus one raw MRF per campus, in the three formats the pipeline accepts.
  *
  * Every charge is derived from a `lineitem` row of the bundled sf0.01
  * tables (keys reused past the table's end carry a replica number). The
  * multiset of charges in each campus is fixed by the workload; the seed only
  * permutes the charges inside each file and the campus order in the
  * registry. So every seed does the same work and yields the same cleaned,
  * quarantined and registry rows, which is what lets one recorded digest per
  * workload check any seed.
  */
object Gen {

  val SystemName = "Bench Health"
  val SystemSlug = "bench_health"
  val Formats: Seq[String] = Seq("json", "tall csv", "wide csv")

  final case class Campus(index: Int, structure: String, charges: Int) {
    val id: String = f"cmp$index%04d"
    def offset: Int = index * 7919
    def address: String = s"${index + 1} Main St, Atlanta"
    def rawFile: String = structure match {
      case "json" => s"$id.json"
      case "tall csv" => s"${id}_tall.csv"
      case _ => s"${id}_wide.csv"
    }
  }

  /** Campus list of a workload; formats alternate so each gets an even share. */
  def campuses(sizes: Seq[Int]): Seq[Campus] = sizes.zipWithIndex.map { case (n, i) =>
    Campus(i, Formats(i % 3), n)
  }

  final case class Payer(name: String, plan: String, wideName: String)
  val Payers: Seq[Payer] = Seq(
    Payer("Aetna [A1]", "PPO", "Aetna"),
    Payer("BCBS", "HMO", "BCBS"),
    Payer("Cigna [C7]", "EPO", "Cigna"))

  final case class PayerCharge(payer: Payer, dollar: String, pct: String, algo: String,
      methodology: String, estimated: String, notes: String)

  final case class Charge(desc: String, code1: String, type1: String, code2: String,
      type2: String, setting: String, drugUnit: String, drugType: String,
      modifiers: String, gross: String, cash: String, min: String, max: String,
      notes: String, payers: Seq[PayerCharge])

  /** Source keys read once per session from the bundled `lineitem`. */
  final case class Keys(order: Array[Long], part: Array[Long], supp: Array[Long],
      line: Array[Int]) { def size: Int = order.length }

  def loadKeys(spark: SparkSession, sfDir: String): Keys = {
    val rows = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
      .orderBy("l_orderkey", "l_linenumber").collect()
    Keys(rows.map(r => r.getAs[Number](0).longValue), rows.map(r => r.getAs[Number](1).longValue),
      rows.map(r => r.getAs[Number](2).longValue), rows.map(r => r.getAs[Number](3).intValue))
  }

  private val CodeTypes = Array("CPT", "CPT", "CPT", "HCPCS", "CPT", "MS-DRG",
    "CPT", "APC", "NDC", "FOO")

  private def pad(v: Long, n: Int): String = {
    val s = v.toString
    if (s.length >= n) s else "0" * (n - s.length) + s
  }

  private def code(kind: String, v: Long): String = kind match {
    case "CPT" => pad(v % 100000, 5)
    case "HCPCS" => "J" + pad(v % 10000, 4)
    case "MS-DRG" => pad(v % 1000, 3)
    case "APC" => pad(v % 10000, 4)
    case "NDC" => pad(v % 10000000000L, 11)
    case _ => pad(v % 100000, 5)
  }

  /** Charge number `i` of a campus whose keys start at `offset`. */
  def charge(keys: Keys, offset: Int, i: Int): Charge = {
    val at = offset + i
    val b = at % keys.size
    val rep = (at / keys.size).toLong
    val ok = keys.order(b); val pk = keys.part(b); val sk = keys.supp(b); val ln = keys.line(b)
    val h = ok * 31 + ln * 7 + rep * 1009
    val t1 = CodeTypes((pk % 10).toInt)
    val ndc = t1 == "NDC"
    val price = pk % 900 + 100
    val payers = Payers.indices.filter(j => (pk + sk + j) % 4 != 0).map { j =>
      val hj = h + j * 13
      PayerCharge(Payers(j),
        dollar = if (hj % 9 == 0) "" else s"${price - 40 + j * 5}.50",
        pct = if (hj % 13 == 0) s"${pk % 60 + 20}%" else "",
        algo = if (hj % 11 == 0) "per diem" else "",
        methodology = if (hj % 29 == 0) "other" else "fee schedule",
        estimated = if (hj % 5 == 0) s"${price - 10}" else "",
        notes = if (hj % 7 == 0) "payer note" else "")
    }
    Charge(
      desc = s"Item ${pk % 500} ${if (ln % 2 == 0) "panel" else "visit"}",
      code1 = code(t1, pk * 7 + rep * 131), type1 = t1,
      code2 = if (h % 3 == 0) code("HCPCS", sk * 11 + rep) else "", type2 = "HCPCS",
      setting = if (ln % 3 == 0) "inpatient" else "outpatient",
      drugUnit = if (ndc) "ML" else "",
      drugType = if (ndc && h % 2 == 0) "liquid" else "",
      modifiers = if (sk % 7 == 0) "26|TC" else "",
      gross = s"$$${price + 60}", cash = if (h % 17 == 0) "" else s"${price + 20}",
      min = if (h % 19 == 0) "" else s"${price - 90}", max = s"${price + 150}",
      notes = if (h % 4 == 0) "see notes" else "",
      payers = payers)
  }

  /** (code, payer) candidates a campus offers the extractor: each charge's
    * non-empty codes times its payers, before the code-type allowlist. */
  def offeredPairs(keys: Keys, c: Campus): Long = (0 until c.charges).map { i =>
    val ch = charge(keys, c.offset, i)
    ch.payers.size.toLong * (if (ch.code2.isEmpty) 1 else 2)
  }.sum

  private def csvField(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n')) "\"" + s.replace("\"", "\"\"") + "\""
    else s

  private def csvLine(fields: Seq[String]): String = fields.map(csvField).mkString(",")

  private def jsonStr(s: String): String =
    if (s.isEmpty) "null" else "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def withWriter(f: File)(body: BufferedWriter => Unit): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 20)
    try body(w) finally w.close()
  }

  private def metaLines(c: Campus): String =
    "hospital_name,last_updated_on,version,hospital_location,hospital_address\n" +
      s"${c.id} General,2024-07-01,2.0.0,Atlanta,\"${c.address}\"\n"

  private val StaticCols = Seq("description", "code|1", "code|1|type", "code|2",
    "code|2|type", "setting", "drug_unit_of_measurement", "drug_type_of_measurement",
    "modifiers", "standard_charge|gross", "standard_charge|discounted_cash",
    "standard_charge|min", "standard_charge|max", "additional_generic_notes")

  private def staticVals(ch: Charge): Seq[String] = Seq(ch.desc, ch.code1, ch.type1,
    ch.code2, ch.type2, ch.setting, ch.drugUnit, ch.drugType, ch.modifiers, ch.gross,
    ch.cash, ch.min, ch.max, ch.notes)

  /** Tall CSV: one body row per (charge, payer). */
  def writeTall(f: File, c: Campus, charges: Seq[Charge]): Unit = withWriter(f) { w =>
    w.write(metaLines(c))
    w.write(csvLine(StaticCols ++ Seq("payer_name", "plan_name",
      "standard_charge|negotiated_dollar", "standard_charge|negotiated_percentage",
      "standard_charge|negotiated_algorithm", "standard_charge|methodology",
      "estimated_amount")) + "\n")
    charges.foreach { ch =>
      ch.payers.foreach { p =>
        w.write(csvLine(staticVals(ch) ++ Seq(p.payer.name, p.payer.plan, p.dollar, p.pct,
          p.algo, p.methodology, p.estimated)) + "\n")
      }
    }
  }

  /** Wide CSV: one body row per charge, one column group per payer and plan. */
  def writeWide(f: File, c: Campus, charges: Seq[Charge]): Unit = withWriter(f) { w =>
    w.write(metaLines(c))
    def group(p: Payer): Seq[String] = {
      val k = s"${p.wideName}|${p.plan}"
      Seq(s"standard_charge|$k|negotiated_dollar", s"standard_charge|$k|negotiated_percentage",
        s"standard_charge|$k|negotiated_algorithm", s"standard_charge|$k|methodology",
        s"estimated_amount|$k", s"additional_payer_notes|$k")
    }
    w.write(csvLine(StaticCols ++ Payers.flatMap(group)) + "\n")
    charges.foreach { ch =>
      val cells = Payers.flatMap { p =>
        ch.payers.find(_.payer == p) match {
          case Some(pc) => Seq(pc.dollar, pc.pct, pc.algo, pc.methodology, pc.estimated, pc.notes)
          case None => Seq.fill(6)("")
        }
      }
      w.write(csvLine(staticVals(ch) ++ cells) + "\n")
    }
  }

  /** JSON: one standard_charge_information element per charge. */
  def writeJson(f: File, c: Campus, charges: Seq[Charge]): Unit = withWriter(f) { w =>
    w.write(s"""{"hospital_name":"${c.id} General","hospital_location":"Atlanta",""" +
      s""""hospital_address":"${c.address}","last_updated_on":"2024-07-01",""" +
      """"version":"2.0.0","standard_charge_information":[""")
    var first = true
    charges.foreach { ch =>
      if (!first) w.write(",\n")
      first = false
      val payers = ch.payers.map { p =>
        s"""{"payer_name":${jsonStr(p.payer.name)},"plan_name":${jsonStr(p.payer.plan)},""" +
          s""""methodology":${jsonStr(p.methodology)},"standard_charge_dollar":${jsonStr(p.dollar)},""" +
          s""""standard_charge_percentage":${jsonStr(p.pct)},""" +
          s""""standard_charge_algorithm":${jsonStr(p.algo)},""" +
          s""""estimated_amount":${jsonStr(p.estimated)},""" +
          s""""additional_payer_notes":${jsonStr(p.notes)},"modifiers":${jsonStr(ch.modifiers)}}"""
      }.mkString("[", ",", "]")
      val drug = if (ch.drugUnit.isEmpty && ch.drugType.isEmpty) "null"
        else s"""{"unit":${jsonStr(ch.drugUnit)},"type":${jsonStr(ch.drugType)}}"""
      w.write(s"""{"description":${jsonStr(ch.desc)},"drug_information":$drug,""" +
        s""""code_information":[{"code":${jsonStr(ch.code1)},"type":${jsonStr(ch.type1)}},""" +
        s"""{"code":${jsonStr(ch.code2)},"type":${jsonStr(ch.type2)}}],""" +
        s""""standard_charges":[{"gross_charge":${jsonStr(ch.gross)},""" +
        s""""discounted_cash":${jsonStr(ch.cash)},"setting":${jsonStr(ch.setting)},""" +
        s""""minimum":${jsonStr(ch.min)},"maximum":${jsonStr(ch.max)},""" +
        s""""payers_information":$payers}]}""")
    }
    w.write("]}\n")
  }

  /** Writes every campus's raw MRF under `rawDir` and returns their total
    * size in bytes. Charge order inside a file is a seeded permutation. */
  def writeRaw(keys: Keys, cs: Seq[Campus], rawDir: File, seed: Long): Long = {
    rawDir.mkdirs()
    cs.map { c =>
      val rnd = new scala.util.Random(seed * 1000003L + c.offset)
      val charges = rnd.shuffle((0 until c.charges).map(i => charge(keys, c.offset, i)))
      val f = new File(rawDir, c.rawFile)
      c.structure match {
        case "json" => writeJson(f, c, charges)
        case "tall csv" => writeTall(f, c, charges)
        case _ => writeWide(f, c, charges)
      }
      f.length()
    }.sum
  }

  /** Writes the registry parquet, campus rows in a seeded order. */
  def writeRegistry(spark: SparkSession, cs: Seq[Campus], path: String, seed: Long): Unit = {
    import spark.implicits._
    val order = new scala.util.Random(seed).shuffle(cs)
    order.map(c => (c.id, SystemName, s"${c.id} General Hospital", "30303", c.rawFile,
      c.structure, "", "", 0.0, "new", "", "", c.address))
      .toDF("campus_id", "healthcare_system", "hospital_name", "zip_code",
        "raw_filename", "structure", "last_updated_on", "version",
        "transparency_score", "etl_status", "processed_by",
        "last_processed_on", "hospital_address")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }
}
