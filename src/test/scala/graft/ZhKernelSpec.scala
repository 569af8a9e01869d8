package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import scala.jdk.CollectionConverters._
import scala.util.Random
import com.ibm.icu.text.{Transliterator, UnicodeSet}
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{RuleTable, Zh}

/** The rule-table kernel behind `Zh` against ICU's own transliterators,
  * which stay the oracle: zero mismatches in both directions over every
  * code point, every rule key in every context the rules test, and seeded
  * random mixed-script strings. Pure JVM, no Spark session. */
class ZhKernelSpec extends AnyFunSuite {

  private val ids = Seq("Simplified-Traditional", "Traditional-Simplified")

  private case class Rules(keys: Seq[String], contextChars: Seq[String])

  /** Keys and context characters read from the rule text with a regex,
    * independently of the kernel's parser. */
  private def rulesOf(id: String): Rules = {
    val lines = Transliterator.getInstance(id).toRules(false).split("\n").filter(_.nonEmpty)
    val lhs = lines.map(_.split(" > ")(0))
    val Braced = "(.*)\\{(.*)\\}(.*)".r
    val keys = lhs.map { case Braced(_, k, _) => k; case k => k }
    val contexts = lhs.collect { case Braced(a, _, p) => a + p }
    val setText = "\\[[^\\]]*\\]".r
    val chars = contexts.flatMap { c =>
      val inSets = setText.findAllIn(c).flatMap(set => new UnicodeSet(set).iterator().asScala)
      val literals = setText.replaceAllIn(c, "").codePoints().toArray.map(cp => new String(Character.toChars(cp)))
      inSets ++ literals
    }
    Rules(keys.toSeq.distinct, chars.toSeq.distinct)
  }

  private lazy val rules = ids.map(rulesOf)
  private lazy val allKeys = rules.flatMap(_.keys).distinct
  private lazy val contextChars = rules.flatMap(_.contextChars).distinct

  private def esc(s: String): String =
    s.codePoints().toArray.map(cp => f"U+$cp%04X").mkString("[", " ", "]")

  /** Converts every input through the kernel and through ICU; fails with
    * the first few mismatches. */
  private def assertAgrees(id: String, inputs: Iterator[String]): Unit = {
    val kernel = RuleTable.fromIcu(id)
    val icu = Transliterator.getInstance(id)
    var checked = 0L
    var mismatches = 0L
    val first = Seq.newBuilder[String]
    inputs.foreach { s =>
      val got = kernel(s)
      val want = icu.transliterate(s)
      checked += 1
      if (got != want) {
        if (mismatches < 5) first += s"${esc(s)} $s: kernel $got, ICU $want"
        mismatches += 1
      }
    }
    assert(mismatches == 0,
      s"$id: $mismatches of $checked inputs differ from ICU, first:\n${first.result().mkString("\n")}")
    assert(checked > 0)
  }

  private def randomStrings(seed: Long, n: Int): IndexedSeq[String] = {
    val rnd = new Random(seed)
    val keys = allKeys.toIndexedSeq
    val ctx = contextChars.toIndexedSeq
    def cp(from: Int, until: Int) = new String(Character.toChars(from + rnd.nextInt(until - from)))
    def piece(): String = rnd.nextInt(20) match {
      case k if k < 8 => keys(rnd.nextInt(keys.size))
      case k if k < 11 => ctx(rnd.nextInt(ctx.size))
      case k if k < 14 => cp(0x4E00, 0xA000)                // BMP Han
      case 14 => cp(0x20000, 0x2A6E0)                        // Han, ext-B
      case 15 => cp(0x1F300, 0x1F650)                        // emoji
      case 16 => ((if (rnd.nextBoolean()) 0xD800 else 0xDC00) + rnd.nextInt(0x400)).toChar.toString
      case _ => cp(0x20, 0x7F)                               // Latin, digits, ASCII symbols
    }
    IndexedSeq.fill(n)(Seq.fill(1 + rnd.nextInt(8))(piece()).mkString)
  }

  for (id <- ids) {
    test(s"$id: kernel == ICU on every code point, lone surrogates included") {
      assertAgrees(id, Iterator.range(0, Character.MAX_CODE_POINT + 1)
        .map(cp => new String(Character.toChars(cp))))
    }

    test(s"$id: kernel == ICU on every rule key, alone and beside every context character") {
      assertAgrees(id, allKeys.iterator.flatMap { k =>
        Iterator.single(k) ++ contextChars.iterator.flatMap(c => Iterator(c + k, k + c))
      })
    }

    test(s"$id: kernel == ICU on 100k seeded mixed-script strings") {
      assertAgrees(id, randomStrings(seed = 2024L, n = 100000).iterator)
    }
  }

  test("the rules carry context rules and phrases") {
    // Guards the checks above against vacuity: contexts and multi-character
    // keys exist, so "beside every context character" tests something.
    assert(contextChars.size >= 10, contextChars)
    assert(allKeys.count(k => k.codePointCount(0, k.length) > 1) >= 500)
  }

  test("kernel returns its input when nothing is replaced") {
    val s2t = RuleTable.fromIcu("Simplified-Traditional")
    for (s <- Seq("", "Springfield", "山水田人", "𠀀", "😀 ok")) assert(s2t(s) eq s, s)
    val converted = s2t("头发")
    assert(converted == "頭髮")
  }

  test("an unsupported rule shape throws when the table is built") {
    for (bad <- Seq("a > b", "a <> b;", "$x > y;", "{a > b;", "[a-z]{'a'} > b;",
      "[{ab}]{c} > d;", "a > b > c;", "'q' > r;"))
      assertThrows[IllegalArgumentException](RuleTable.parse(bad))
    // The ante-context is tested against the output, as in ICU: 三 follows
    // 二 only after 一 has been rewritten.
    for ((rules, in) <- Seq("[一二]{余} > 餘;\n余 > 余;" -> "一余余二余", "一 > 二;\n[二]{三} > 3;" -> "一三三")) {
      val icu = Transliterator.createFromRules("t", rules, Transliterator.FORWARD).transliterate(in)
      assert(RuleTable.parse(rules)(in) == icu, rules)
    }
    assert(RuleTable.parse("一 > 二;\n[二]{三} > 3;")("一三") == "二3")
  }

  test("4 threads converting one corpus concurrently get the single-thread output") {
    val corpus = randomStrings(seed = 7L, n = 20000)
    def convertAll(): IndexedSeq[(String, String)] =
      corpus.map(s => (Zh.toSimplified(s), Zh.toTraditional(s)))
    val want = convertAll()
    val threads = 4
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val start = new CountDownLatch(1)
      val results = (0 until threads).map { _ =>
        pool.submit(new Callable[IndexedSeq[(String, String)]] {
          def call(): IndexedSeq[(String, String)] = { start.await(); convertAll() }
        })
      }
      start.countDown()
      results.zipWithIndex.foreach { case (f, t) =>
        val got = f.get(120, TimeUnit.SECONDS)
        val diff = corpus.indices.filter(i => got(i) != want(i))
        assert(diff.isEmpty, s"thread $t differs on ${diff.size} inputs, first ${diff.take(3).map(corpus)}")
      }
    } finally {
      pool.shutdownNow()
    }
  }
}
