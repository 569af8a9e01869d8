package perfbench

import scala.collection.mutable
import com.ibm.icu.impl.ICUData
import com.ibm.icu.util.UResourceBundle

/** SplitMix64: a tiny, splittable PRNG, so one row's values are a pure
  * function of (seed, id) and any row can be regenerated for the output
  * checks. */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def pick[A](xs: IndexedSeq[A]): A = xs(nextInt(xs.size))
}

object Rng {
  def forRow(seed: Long, id: Long): Rng = new Rng(seed * 0x9E3779B97F4A7C15L ^ id * 0xC2B2AE3D27D4EB4FL)
}

/** Han characters that ICU's `Hans-Hant` rules map one-to-one to a
  * different character: `simplified` change under Simplified→Traditional,
  * `traditional` under Traditional→Simplified. Read from the rule text in
  * ICU's data, not from a compiled transliterator, so the transliterator
  * build stays in the first timed iteration. */
final case class HanPools(simplified: IndexedSeq[String], traditional: IndexedSeq[String])

object HanPools {
  private def isHan(cp: Int) = Character.UnicodeScript.of(cp) == Character.UnicodeScript.HAN

  def fromIcuRules(): HanPools = {
    val ids = UResourceBundle.getBundleInstance(ICUData.ICU_TRANSLIT_BASE_NAME, "root")
      .get("RuleBasedTransliteratorIDs")
    val rules = ids.get("Hans-Hant").get("file").getString("resource")
    val simp = mutable.LinkedHashSet[String]()
    val trad = mutable.LinkedHashSet[String]()
    // plain one-character rules: `简↔繁;` and the one-way `简→繁;` / `简←繁;`
    for (rule <- rules.split(';').iterator.map(_.trim)) {
      val arrow = rule.indexWhere(c => c == '↔' || c == '→' || c == '←')
      if (arrow > 0) {
        val l = rule.substring(0, arrow).trim
        val r = rule.substring(arrow + 1).trim
        if (l.codePointCount(0, l.length) == 1 && r.codePointCount(0, r.length) == 1 &&
            l != r && isHan(l.codePointAt(0)) && isHan(r.codePointAt(0))) {
          if (rule(arrow) != '←') simp += l
          if (rule(arrow) != '→') trad += r
        }
      }
    }
    HanPools(simp.toIndexedSeq, trad.toIndexedSeq)
  }
}

/** One generated `osm_features` row and the derivation it expects. */
final case class OsmRow(id: Long, name: String, tags: Map[String, String], geometry: String) {
  import OsmGen._
  private def present(k: String) = tags.get(k).filter(_.nonEmpty)
  /** The reference's filter (`name` or `name:zh` present, a target missing)
    * and its Han test, restated over the generator's own row. */
  def zhSource: Option[String] =
    present(ZhKey).orElse(Option(name).filter(_.codePoints().anyMatch(isHanCp)))
  def derives: Boolean = zhSource.isDefined && (present(HansKey).isEmpty || present(HantKey).isEmpty)
  def needsHans: Boolean = derives && present(HansKey).isEmpty
  def needsHant: Boolean = derives && present(HantKey).isEmpty
  def hansOr(convert: String => String): Option[String] =
    if (!derives) None else present(HansKey).orElse(zhSource.map(convert))
  def hantOr(convert: String => String): Option[String] =
    if (!derives) None else present(HantKey).orElse(zhSource.map(convert))
}

/** Seeded OSM-shaped rows (FIXTURES.md §A's branches, at data scale). */
object OsmGen {
  val ZhKey = "name:zh"
  val HansKey = "name:zh-Hans"
  val HantKey = "name:zh-Hant"
  private[perfbench] val isHanCp: java.util.function.IntPredicate =
    cp => Character.UnicodeScript.of(cp) == Character.UnicodeScript.HAN

  // Row kinds, one per branch of the reference's per-row logic.
  val HanSimplified = 0   // Han name, no zh keys           → derive both
  val HanTraditional = 1  // Han name, no zh keys           → derive both
  val Mixed = 2           // "成田 Airport"                 → derive both
  val ZhTagOnly = 3       // null name, name:zh present     → derive both
  val HansOnly = 4        // name:zh-Hans present           → derive hant
  val HantOnly = 5        // name:zh-Hant present           → derive hans
  val EmptyHans = 6       // name:zh-Hans = ""              → derive both
  val Both = 7            // both targets present           → untouched
  val Latin = 8           // no Han anywhere                → untouched
  val NullName = 9        // nothing to derive from         → untouched
  val EmptyName = 10      // ""                             → untouched

  /** Per-mille weight of each kind; 530‰ of rows derive. */
  val EnrichMix: IndexedSeq[Int] = IndexedSeq(150, 150, 50, 50, 50, 50, 30, 100, 270, 50, 50)
  /** A table that is mostly done already: 330‰ of rows derive. */
  val WritebackMix: IndexedSeq[Int] = IndexedSeq(90, 90, 30, 30, 40, 40, 10, 270, 300, 50, 50)

  private val latinWords = IndexedSeq("Main", "Station", "Park", "River", "Market", "Harbour",
    "Hill", "Bridge", "Garden", "Temple", "Airport", "Plaza", "Lake", "Tower", "Museum",
    "North", "South", "East", "West", "Central", "Old", "New", "Spring", "Field")
  private val extraTags = IndexedSeq(
    "amenity" -> IndexedSeq("cafe", "restaurant", "school", "bank", "pharmacy", "parking"),
    "highway" -> IndexedSeq("primary", "secondary", "residential", "bus_stop"),
    "shop" -> IndexedSeq("convenience", "supermarket", "bakery", "clothes"),
    "building" -> IndexedSeq("yes", "commercial", "apartments"),
    "tourism" -> IndexedSeq("hotel", "attraction", "viewpoint"),
    "opening_hours" -> IndexedSeq("24/7", "Mo-Fr 09:00-18:00", "Mo-Su 10:00-22:00"),
    "addr:city" -> IndexedSeq("Taipei", "Shanghai", "Hong Kong", "Macau", "Singapore"),
    "wheelchair" -> IndexedSeq("yes", "no", "limited"))

  private def han(r: Rng, pool: IndexedSeq[String]): String = {
    val n = 2 + r.nextInt(4)
    val b = new StringBuilder
    var i = 0
    while (i < n) { b ++= r.pick(pool); i += 1 }
    b.toString
  }
  private def latin(r: Rng): String = r.pick(latinWords) + " " + r.pick(latinWords)

  def row(p: HanPools, mix: IndexedSeq[Int], seed: Long, id: Long): OsmRow = {
    val r = Rng.forRow(seed, id)
    var u = r.nextInt(1000)
    var kind = 0
    while (u >= mix(kind)) { u -= mix(kind); kind += 1 }
    val tags = Map.newBuilder[String, String]
    val nExtra = r.nextInt(4)
    for (_ <- 0 until nExtra) { val (k, vs) = r.pick(extraTags); tags += k -> r.pick(vs) }
    if (r.nextInt(3) == 0) tags += "name:en" -> latin(r)
    if (r.nextInt(5) == 0) tags += "wikidata" -> s"Q${1 + r.nextInt(9999999)}"
    val s = han(r, p.simplified)
    val t = han(r, p.traditional)
    val name: String = kind match {
      case HanSimplified => s
      case HanTraditional => t
      case Mixed => s + " " + r.pick(latinWords)
      case ZhTagOnly => tags += ZhKey -> t; null
      case HansOnly => tags += HansKey -> s; s
      case HantOnly => tags += HantKey -> t; t
      case EmptyHans => tags += HansKey -> ""; s
      case Both => tags += HansKey -> s; tags += HantKey -> t; t
      case Latin => latin(r)
      case NullName => null
      case _ => ""
    }
    val geometry = f"POINT(${r.nextDouble() * 360 - 180}%.6f ${r.nextDouble() * 170 - 85}%.6f)"
    OsmRow(id, name, tags.result(), geometry)
  }
}
