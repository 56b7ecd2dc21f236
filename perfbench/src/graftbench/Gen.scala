package graftbench

import scala.util.Random

/** Seeded input generators. The same seed gives the same inputs; the
  * engine sees only what these produce.
  */
object Gen {

  def rng(seed: Long, stream: Long): Random =
    new Random(seed * 1000003L + stream * 7919L + 17L)

  def writeFile(path: String, lines: Iterator[String]): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }

  // ----------------------------------------------------------- translate_csv

  private val Components = Vector("fuel pump", "oxygen sensor",
    "mass airflow sensor", "throttle body", "brake caliper", "ABS module",
    "timing chain", "coolant thermostat", "ignition coil", "EGR valve",
    "turbocharger", "alternator", "starter motor", "catalytic converter",
    "wheel speed sensor", "transmission solenoid", "camshaft position sensor",
    "fuel injector", "battery management unit", "power steering pump")
  private val Symptoms = Vector("an intermittent misfire", "low voltage",
    "a signal out of range", "excessive wear", "a pressure drop",
    "a slow response", "an open circuit", "a short to ground",
    "an implausible reading", "overheating", "a rattling noise",
    "a communication timeout")
  private val Conditions = Vector("engine is cold", "vehicle exceeds 80 km/h",
    "ignition is switched on", "air conditioning is running",
    "battery charge is below 40 percent", "trailer is attached",
    "vehicle idles for ten minutes", "outside temperature is below zero")
  private val Templates = Vector(
    (c: String, s: String, d: String, n: Int) =>
      s"Inspect the $c for $s when the $d.",
    (c: String, s: String, d: String, n: Int) =>
      s"Replace the $c if $s persists after the $d.",
    (c: String, s: String, d: String, n: Int) =>
      f"Diagnostic code P$n%04d indicates $s in the $c circuit.",
    (c: String, s: String, d: String, n: Int) =>
      s"Check the wiring between the $c and the control unit, $s was detected.",
    (c: String, s: String, d: String, n: Int) =>
      s"Clear the fault memory, then confirm that $s no longer appears while the $d.")

  final case class TranslateInput(lines: Iterator[String], cleanIds: Set[String])

  /** `rows` data lines after the header: about 3% blank sentences and 2%
    * corrupt lines (too many or too few fields); every other line is a
    * clean (id, sentence) pair with a unique id.
    */
  def translateCsv(seed: Long, rows: Int): TranslateInput = {
    val r = rng(seed, 1)
    val clean = Set.newBuilder[String]
    val lines = Vector.newBuilder[String]
    lines += "description_id,english_sentence"
    (0 until rows).foreach { i =>
      val id = f"DTC-$i%06d"
      val roll = r.nextDouble()
      if (roll < 0.015) lines += s"$id,"
      else if (roll < 0.03) lines += s"$id,\"   \""
      else if (roll < 0.04) lines += s"$id,broken,row,with,extra,fields"
      else if (roll < 0.05) lines += id
      else {
        val t = Templates(r.nextInt(Templates.size))
        val s = t(Components(r.nextInt(Components.size)),
          Symptoms(r.nextInt(Symptoms.size)),
          Conditions(r.nextInt(Conditions.size)), r.nextInt(9999))
        lines += s"$id,\"$s\""
        clean += id
      }
    }
    TranslateInput(lines.result().iterator, clean.result())
  }

  // ----------------------------------------------------------- corpus_ingest

  private val Stop = Vector("the", "of", "and", "to", "in", "is", "for",
    "that", "with", "on", "as", "it", "by", "at", "from")
  private val Words = Vector("engine", "sensor", "voltage", "signal", "pump",
    "valve", "brake", "wheel", "torque", "gear", "fuel", "pressure", "circuit",
    "module", "cable", "relay", "fuse", "light", "panel", "door", "seat",
    "mirror", "steering", "axle", "clutch", "filter", "oil", "water", "cooling",
    "heater", "fan", "belt", "chain", "shaft", "bearing", "spring", "shock",
    "tire", "rim", "hub", "lamp", "switch", "motor", "battery", "charger",
    "socket", "plug", "coil", "spark", "piston", "ring", "cylinder", "head",
    "gasket", "seal", "hose", "clamp", "bolt", "nut", "washer", "bracket",
    "frame", "body", "roof", "hood", "trunk", "lock", "key", "alarm", "radio",
    "screen", "camera", "radar", "lidar", "route", "speed", "road", "lane",
    "driver", "owner", "dealer", "repair", "service", "check", "test", "report",
    "warning", "error", "fault", "code", "reading", "value", "limit", "range",
    "level", "state", "mode", "cycle", "phase", "step", "update", "version")

  /** A clean document: 30 to 60 words, about a third stop words, so it
    * passes every default quality rule.
    */
  def docText(seed: Long, key: Long): String = {
    val r = rng(seed, 1000000L + key)
    val n = 30 + r.nextInt(31)
    (0 until n).map { _ =>
      if (r.nextInt(3) == 0) Stop(r.nextInt(Stop.size)) else Words(r.nextInt(Words.size))
    }.mkString(" ") + "."
  }

  /** One document of a generated micro-batch; `origin` names the planted
    * share it belongs to.
    */
  final case class Doc(id: Long, text: String, lang: String, origin: String)

  private val Langs = Vector("en", "de", "fr", "es")

  private def slotRng(seed: Long, b: Int, i: Int): Random =
    rng(seed, 2000000L + b.toLong * 100003L + i)

  /** Which planted share slot (b, i) belongs to: 10% exact copies of a
    * fresh document of an earlier batch, 10% near-duplicate mutations of
    * one (one word replaced), 8% quality failures (too short), the rest
    * fresh; a fifth of the fresh documents carry PII (an e-mail address, a
    * phone number or an IP address).
    */
  private def kind(seed: Long, b: Int, i: Int): String = {
    val roll = slotRng(seed, b, i).nextDouble()
    if (b > 0 && roll < 0.10) "copy"
    else if (b > 0 && roll < 0.20) "near"
    else if (roll < 0.28) "quality"
    else "fresh"
  }

  /** Text and language of the fresh document in slot (b, i). */
  private def fresh(seed: Long, b: Int, i: Int): (String, String) = {
    val key = b.toLong * 100003L + i
    val r = rng(seed, 3000000L + key)
    val lang = Langs(r.nextInt(Langs.size))
    val base = docText(seed, key)
    val text = r.nextInt(15) match {
      case 0 => base + s" contact user$key@example.com today."
      case 1 => base + f" call +1 555-${(key % 10000).toInt}%04d now."
      case 2 => base + s" the node 10.0.${key % 256}.7 is down."
      case _ => base
    }
    (text, lang)
  }

  /** A fresh slot of a batch before `b`, drawn with `r`. */
  private def earlierFresh(seed: Long, b: Int, size: Int, r: Random): (String, String) = {
    var (sb, si) = (r.nextInt(b), r.nextInt(size))
    while (kind(seed, sb, si) != "fresh") { sb = r.nextInt(b); si = r.nextInt(size) }
    fresh(seed, sb, si)
  }

  /** Batch `b` of `size` documents; ids are unique across batches. Copies
    * and mutations keep their source's language, so equal texts carry
    * equal attribution.
    */
  def corpusBatch(seed: Long, b: Int, size: Int): Seq[Doc] =
    (0 until size).map { i =>
      val id = b.toLong * 1000000L + i
      val r = slotRng(seed, b, i)
      r.nextDouble()
      kind(seed, b, i) match {
        case "copy" =>
          val (t, l) = earlierFresh(seed, b, size, r)
          Doc(id, t, l, "copy")
        case "near" =>
          val (t, l) = earlierFresh(seed, b, size, r)
          val words = t.split(" ")
          words(r.nextInt(words.length - 1)) = "modified"
          Doc(id, words.mkString(" "), l, "near")
        case "quality" =>
          Doc(id, "too short " + r.nextInt(1000), Langs(r.nextInt(Langs.size)), "quality")
        case _ =>
          val (t, l) = fresh(seed, b, i)
          Doc(id, t, l, "fresh")
      }
    }
}
