package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-cleaning operators for web-scale training corpora: HTML stripping,
  * entity decoding, whitespace normalization, PII redaction and
  * boilerplate-line removal (the C4/RefinedWeb-style cleanup stages;
  * reference's pipeline has no text cleaning — this is part of the
  * training-data extension surface, like [[TextAnalysis]]).
  *
  * Everything is pure Catalyst `Column` composition (regexp chains and
  * array HOFs over lines) — no UDFs, whole-stage codegen end to end, no
  * shuffles. At 100 TB these run map-side at scan speed and compose with
  * the dedup/quality stages in [[Pipelines]].
  *
  * Regex dialect note: every pattern here sticks to the Java/RE2 common
  * subset (ASCII classes, `(?i)`, `\b`, bounded reps) so the DuckDB
  * oracle SQL can mirror each step verbatim.
  */
object TextCleaning {

  // ------------------------------------------------------------ HTML

  /** Drop `<script>`/`<style>` elements with their content (non-greedy,
    * case-insensitive, dot-matches-newline), then all remaining tags. */
  def stripTags(text: Column): Column = {
    val noScript = regexp_replace(text, "(?is)<(script|style)\\b[^>]*>.*?</(script|style)>", " ")
    regexp_replace(noScript, "<[^>]*>", " ")
  }

  /** Decode the half-dozen entities that dominate web text (named +
    * the numeric forms of the same characters). Ampersand LAST so
    * `&amp;lt;` decodes to the literal `&lt;`, not `<`. */
  def decodeEntities(text: Column): Column = {
    val steps: Seq[(String, String)] = Seq(
      "&nbsp;" -> " ",
      "&lt;" -> "<",
      "&gt;" -> ">",
      "&quot;" -> "\"",
      "&#39;" -> "'",
      "&apos;" -> "'",
      "&amp;" -> "&")
    steps.foldLeft(text) { case (c, (from, to)) =>
      regexp_replace(c, java.util.regex.Pattern.quote(from), to)
    }
  }

  /** Collapse whitespace runs to single spaces and trim the edges.
    * Newlines are preserved as line breaks only by [[removeBoilerplate]];
    * here everything folds to one line. */
  def normalizeWhitespace(text: Column): Column =
    regexp_replace(regexp_replace(text, "\\s+", " "), "^ | $", "")

  // ------------------------------------------------------------- PII

  private val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  // 9-16 digits, at most two separator chars between consecutive digits
  // ("(555) 123-4567" has ") " inside). Counting DIGITS — not inner chars,
  // which the first cut of this pattern did — is what keeps 8-digit year
  // ranges ("2020-2024") unmatched while real phone numbers (9+ digits)
  // still redact. RE2-safe: no lookahead, so the DuckDB oracle mirrors it.
  private val PhonePat = "\\+?\\d(?:[()\\-. ]{0,2}\\d){8,15}"
  private val Ipv4Pat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  def redactEmails(text: Column, token: String = "<EMAIL>"): Column =
    regexp_replace(text, EmailPat, token)

  def redactPhones(text: Column, token: String = "<PHONE>"): Column =
    regexp_replace(text, PhonePat, token)

  def redactIpv4(text: Column, token: String = "<IP>"): Column =
    regexp_replace(text, Ipv4Pat, token)

  /** All three redactions: email first (emails contain digit runs a
    * phone pattern could nibble at), then IP BEFORE phone — a 9+-digit
    * IPv4 like 192.168.100.200 is inside PhonePat's digit/dot grammar
    * and would be mislabeled <PHONE> the other way around. */
  def redactPii(text: Column): Column =
    redactPhones(redactIpv4(redactEmails(text)))

  /** Count of PII matches per kind — audit signal for scrub reports.
    * Counts follow the [[redactPii]] sequence (each kind counted on the
    * text with the previous kinds already redacted), so one span is never
    * double-counted as both an IP and a phone. */
  def piiCounts(text: Column): Column = {
    val afterEmail = redactEmails(text)
    val afterIp = redactIpv4(afterEmail)
    struct(
      size(regexp_extract_all(text, lit(EmailPat), lit(0))).as("emails"),
      size(regexp_extract_all(afterIp, lit(PhonePat), lit(0))).as("phones"),
      size(regexp_extract_all(afterEmail, lit(Ipv4Pat), lit(0))).as("ipv4"))
  }

  // ----------------------------------------------------- boilerplate

  /** Default boilerplate line detector: navigation/legal chrome that
    * survives tag stripping (case-insensitive substring matches). */
  val DefaultBoilerplatePattern: String =
    "(?i)(cookie|copyright|all rights reserved|terms of (use|service)|" +
      "privacy policy|subscribe|sign in|log in|newsletter|click here)"

  /** Drop lines that are blank or match the boilerplate pattern; rejoin
    * the survivors with `\n`. Line-level filtering is the shape C4 uses
    * (terminal-punctuation / naughty-line rules slot in as `pattern`). */
  def removeBoilerplate(text: Column, pattern: String = DefaultBoilerplatePattern): Column = {
    val lines = split(text, "\n")
    val kept = filter(lines, l => {
      val t = regexp_replace(l, "^\\s+|\\s+$", "")
      length(t) > 0 && !t.rlike(pattern)
    })
    array_join(kept, "\n")
  }

  /** Fraction of lines removed by [[removeBoilerplate]] — quality signal. */
  def boilerplateLineFraction(text: Column, pattern: String = DefaultBoilerplatePattern): Column = {
    val lines = split(text, "\n")
    val dropped = filter(lines, l => {
      val t = regexp_replace(l, "^\\s+|\\s+$", "")
      length(t) === 0 || t.rlike(pattern)
    })
    when(size(lines) === 0, lit(0.0))
      .otherwise(size(dropped).cast("double") / size(lines).cast("double"))
  }

  // ----------------------------------------------------- composition

  /** Full web-text cleanup: HTML → boilerplate lines → PII → whitespace.
    * Adds `<out>` plus `<out>_pii` audit counts; one projection. */
  def clean(df: DataFrame, textCol: String, out: String = "clean_text"): DataFrame = {
    val deTagged = decodeEntities(stripTags(col(textCol)))
    val deBoiler = removeBoilerplate(deTagged)
    df.withColumn(out, normalizeWhitespace(redactPii(deBoiler)))
      .withColumn(s"${out}_pii", piiCounts(deTagged))
  }
}
