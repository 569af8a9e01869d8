package graft.functions

import java.text.ParsePosition
import com.ibm.icu.text.{Transliterator, UnicodeSet}

/** A rule-based ICU transliterator's rules, compiled into an immutable
  * first-match table. [[Zh]] converts through two of these.
  *
  * ICU locks a transliterator's compiled rules in every `transliterate`
  * call, and all instances from `Transliterator.getInstance` share one
  * cached copy, so threads converting through ICU run one at a time. This
  * table is built once from the same rules (`toRules`) and never written
  * after construction, so any number of threads read it without a lock.
  *
  * The semantics are ICU's, for the rule shapes its Han rules use
  * (`[ante]{key}post > out;` and `key > out;`, contexts made of sets and
  * literal characters):
  *  - at each position, the rules whose key starts there are tried in rule
  *    order; the first whose key, post-context and ante-context all match
  *    writes its output, and the scan resumes after the key;
  *  - the ante-context is tested against the output written so far, as ICU
  *    tests it against the text it rewrites in place;
  *  - where no rule matches, one code point is copied.
  * A rule line of any other shape throws while the table is built, so an
  * ICU release whose rules use more of the syntax fails loudly instead of
  * converting differently.
  */
final class RuleTable private (byFirstChar: Array[Array[RuleTable.Rule]]) {

  /** Converts `s`; returns `s` itself when no rule changed anything. */
  def apply(s: String): String = {
    val n = s.length
    var out: java.lang.StringBuilder = null
    var i = 0
    while (i < n) {
      val rule = firstMatch(s, i, out)
      if (rule == null) {
        val step = Character.charCount(s.codePointAt(i))
        if (out != null) out.append(s, i, i + step)
        i += step
      } else {
        if (out == null && !rule.identity)
          out = new java.lang.StringBuilder(n + 8).append(s, 0, i)
        if (out != null) out.append(rule.out)
        i += rule.key.length
      }
    }
    if (out == null) s else out.toString
  }

  private def firstMatch(s: String, i: Int, out: java.lang.StringBuilder): RuleTable.Rule = {
    val bucket = byFirstChar(s.charAt(i))
    if (bucket != null) {
      // Until the first replacement, the output written so far is s(0, i).
      val done: CharSequence = if (out == null) s else out
      val doneEnd = if (out == null) i else out.length
      var r = 0
      while (r < bucket.length) {
        val rule = bucket(r)
        if (rule.matches(s, i, done, doneEnd)) return rule
        r += 1
      }
    }
    null
  }
}

object RuleTable {

  /** Compiles the rules of ICU's transliterator `id`. */
  def fromIcu(id: String): RuleTable = {
    val t = Transliterator.getInstance(id)
    if (t.getFilter != null)
      throw new IllegalArgumentException(s"$id: a global filter is not supported")
    parse(t.toRules(false))
  }

  /** Compiles rule text in `toRules` form, one rule per line. */
  private[graft] def parse(rules: String): RuleTable = {
    val buckets = new Array[java.util.ArrayList[Rule]](0x10000)
    for (line <- rules.split("\n") if line.nonEmpty) {
      val rule = parseLine(line)
      val c = rule.key.charAt(0)
      if (buckets(c) == null) buckets(c) = new java.util.ArrayList[Rule]()
      buckets(c).add(rule)
    }
    new RuleTable(buckets.map(b => if (b == null) null else b.toArray(new Array[Rule](0))))
  }

  private[functions] final class Rule(val key: String, val out: String,
      ante: Array[UnicodeSet], post: Array[UnicodeSet]) {
    val identity: Boolean = key == out

    /** True iff this rule applies at `i` of `s`, with `done(0, doneEnd)`
      * the output written before `i`. */
    def matches(s: String, i: Int, done: CharSequence, doneEnd: Int): Boolean = {
      if (!s.startsWith(key, i)) return false
      var j = i + key.length
      var p = 0
      while (p < post.length) {
        if (j >= s.length) return false
        val cp = s.codePointAt(j)
        if (!post(p).contains(cp)) return false
        j += Character.charCount(cp)
        p += 1
      }
      var k = doneEnd
      var a = ante.length - 1
      while (a >= 0) {
        if (k <= 0) return false
        val cp = Character.codePointBefore(done, k)
        if (!ante(a).contains(cp)) return false
        k -= Character.charCount(cp)
        a -= 1
      }
      true
    }
  }

  private def parseLine(line: String): Rule = {
    def bad(why: String) = new IllegalArgumentException(s"unsupported rule ($why): $line")
    if (!line.endsWith(";")) throw bad("no terminating ';'")
    val arrow = line.indexOf(" > ")
    if (arrow < 0 || line.indexOf(" > ", arrow + 1) >= 0) throw bad("not one ' > '")
    val (lhs, out) = (line.substring(0, arrow), line.substring(arrow + 3, line.length - 1))
    val open = lhs.indexOf('{')
    val close = lhs.indexOf('}')
    val (anteText, key, postText) =
      if (open < 0 && close < 0) ("", lhs, "")
      else if (open >= 0 && close > open)
        (lhs.substring(0, open), lhs.substring(open + 1, close), lhs.substring(close + 1))
      else throw bad("unbalanced braces")
    if (key.isEmpty || !isLiteral(key)) throw bad("key is not a literal")
    if (!isLiteral(out)) throw bad("output is not a literal")
    new Rule(key, out, context(anteText, bad), context(postText, bad))
  }

  private val NoContext = new Array[UnicodeSet](0)

  /** A context: a sequence of `[set]`s and literal characters, each
    * matching one code point. */
  private def context(text: String, bad: String => Exception): Array[UnicodeSet] = {
    if (text.isEmpty) return NoContext
    val sets = Array.newBuilder[UnicodeSet]
    var p = 0
    while (p < text.length) {
      if (text.charAt(p) == '[') {
        val pos = new ParsePosition(p)
        val set = try new UnicodeSet(text, pos, null)
          catch { case e: IllegalArgumentException => throw bad(e.getMessage) }
        // A string member or U+FFFF (which matches at the text's ends)
        // needs ICU's general matcher.
        if (set.hasStrings || set.contains(0xFFFF)) throw bad("context set beyond code points")
        sets += set.freeze()
        p = pos.getIndex
      } else {
        val cp = text.codePointAt(p)
        if (!isLiteral(cp)) throw bad("context is not sets and literals")
        sets += new UnicodeSet(cp, cp).freeze()
        p += Character.charCount(cp)
      }
    }
    sets.result()
  }

  /** Characters that stand for themselves in rule text: not ASCII syntax,
    * white space, unpaired surrogates or U+FFFF. */
  private def isLiteral(cp: Int): Boolean =
    if (cp < 0x80) Character.isLetterOrDigit(cp)
    else !Character.isWhitespace(cp) && Character.getType(cp) != Character.SURROGATE && cp != 0xFFFF

  private def isLiteral(s: String): Boolean = {
    var i = 0
    while (i < s.length && isLiteral(s.codePointAt(i))) i += Character.charCount(s.codePointAt(i))
    i == s.length
  }
}
