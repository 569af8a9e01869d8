package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.{graftshim => shim}
import org.apache.spark.sql.functions.udf
import org.apache.spark.unsafe.types.UTF8String

/** Chinese-script scalar functions — the reference's three "UDFs"
  * (`OMTZHModifier.java:228,233,247-250`) re-expressed for Spark.
  *
  * The reference uses OpenCC (`com.github.houbb:opencc4j`, build.gradle:31)
  * for Simplified↔Traditional conversion; we use ICU4J's Han
  * transliteration rules (ICU4J ships with Spark's jars). Capability-
  * equivalent, not byte-identical (dictionaries differ slightly) — so
  * these stay out of the DuckDB oracle and are pinned by golden-file unit
  * tests and a differential test against ICU instead (SURVEY.md §5).
  *
  * Thread safety: conversion runs through two [[RuleTable]]s compiled
  * from ICU's own rules on first use in a JVM and never written after
  * that, so every executor thread shares them without a lock. ICU's
  * `Transliterator` instances would not do: all of them share one cached
  * copy of the compiled rules and lock it in every call. The enclosing
  * object is a Scala module, so UDF closures capture no state — each
  * executor JVM builds its own tables.
  */
object Zh {

  private lazy val s2t = RuleTable.fromIcu("Simplified-Traditional")
  private lazy val t2s = RuleTable.fromIcu("Traditional-Simplified")

  /** Traditional → Simplified (reference `ZhConverterUtil.toSimple`, OMT:228).
    *
    * Short-circuit: the Han transforms only rewrite Han codepoints, so a
    * cheap codepoint scan skips the rule table for non-Han text — on a
    * mixed-language 100 TB corpus the common case is "nothing to
    * convert". */
  def toSimplified(s: String): String =
    if (s == null) null else if (!hasHan(s)) s else t2s(s)

  /** Simplified → Traditional (reference `ZhConverterUtil.toTraditional`, OMT:233). */
  def toTraditional(s: String): String =
    if (s == null) null else if (!hasHan(s)) s else s2t(s)

  /** True iff any codepoint is of Unicode script HAN (reference
    * `isHanScript`, OMT:247-250 — same `Character.UnicodeScript` check). */
  def hasHan(s: String): Boolean =
    s != null && s.codePoints().anyMatch(cp =>
      Character.UnicodeScript.of(cp) == Character.UnicodeScript.HAN)

  // UTF8String bridges called from generated code (ZhExpressions.doGenCode).
  // A Scala object with no companion class emits static forwarders, so
  // `graft.functions.Zh.hasHanU(...)` is a plain static call in Java.
  def hasHanU(s: UTF8String): Boolean = s != null && hasHan(s.toString)
  def toSimplifiedU(s: UTF8String): UTF8String =
    if (s == null) null else {
      val str = s.toString
      if (!hasHan(str)) s else UTF8String.fromString(t2s(str))
    }
  def toTraditionalU(s: UTF8String): UTF8String =
    if (s == null) null else {
      val str = s.toString
      if (!hasHan(str)) s else UTF8String.fromString(s2t(str))
    }

  // Column-level API: native codegen'd Catalyst expressions (ZhExpressions).
  def zh_to_simplified(c: Column): Column =
    shim.column(ZhToSimplified(shim.expression(c)))
  def zh_to_traditional(c: Column): Column =
    shim.column(ZhToTraditional(shim.expression(c)))
  def contains_han(c: Column): Column =
    shim.column(ContainsHan(shim.expression(c)))

  // Scala-UDF forms, kept as the cross-check baseline for the expression
  // variants (ZhSpec asserts agreement) and as the API a non-classic
  // (e.g. Connect) session would fall back to.
  private lazy val toSimplifiedUdf = udf(toSimplified _)
  private lazy val toTraditionalUdf = udf(toTraditional _)
  private lazy val hasHanUdf = udf(hasHan _)

  def zh_to_simplified_udf(c: Column): Column = toSimplifiedUdf(c)
  def zh_to_traditional_udf(c: Column): Column = toTraditionalUdf(c)
  def contains_han_udf(c: Column): Column = hasHanUdf(c)
}
