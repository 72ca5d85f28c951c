package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{
  Explode, Expression, ExpressionInfo, Literal, StringSplit}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Engine extension point, wired via
  * `spark.sql.extensions=graft.plans.GraftExtensions` (set by
  * [[graft.Engine.builder]]) — the canonical way to ship custom Catalyst
  * pieces without forking Spark. Currently registers:
  *
  *  - `format5_decode(binary)` → struct of the seven decoded sensor
  *    metrics ([[Format5Decode]]), NULL for invalid payloads.
  *  - `vector_dot(array<double>, array<double>)` → double
  *    ([[VectorDot]]), the codegen'd similarity inner loop.
  *  - `nfc_normalize(string)` → string ([[NfcNormalize]]), Unicode NFC
  *    with ASCII/already-normalized fast paths; same name and semantics
  *    as DuckDB's builtin.
  *  - `nibble_counts(string)` → array<int> ([[NibbleCounts]]), the
  *    one-pass hex-digit histogram behind the byte-entropy triage.
  *  - `char_class_counts(string, alphabet)` → array<int>
  *    ([[CharClassCounts]]), the generalized one-pass ASCII-alphabet
  *    histogram behind the character-entropy kernel.
  *  - the [[BoundLevenshtein]] optimizer rule: threshold comparisons of
  *    unbounded `levenshtein` rewrite to the banded early-abandon form.
  *  - the [[AsOfJoinStrategy]] planner strategy: plans the custom
  *    [[AsOfJoinNode]] logical operator into the sorted-merge
  *    [[AsOfJoinExec]] — the whole-operator (logical node + strategy +
  *    physical plan) tier of the extension ladder, and the engine's one
  *    as-of join: [[graft.ops.AsOfJoin.lastPrior]] builds the node.
  *  - the [[GraftSqlParser]] delegating parser + [[ResolveAsOfJoin]]
  *    resolution rule: DuckDB's `ASOF [LEFT|INNER] JOIN` SQL syntax,
  *    lowered to the same [[AsOfJoinNode]] — the `injectParser` tier,
  *    letting one query text run verbatim on both engines.
  *  - `string_split(s, sep)` / `unnest(array)` — the tokenizer-parity
  *    shim: DuckDB's native spellings as aliases over Spark's split
  *    (separator regex-quoted at parse time) and explode, extending
  *    the one-text-two-engines contract to tokenize-dependent queries
  *    (q59's BM25).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => BoundLevenshtein)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectParser((_, delegate) => new GraftSqlParser(delegate))
    ext.injectResolutionRule(_ => ResolveAsOfJoin)
    ext.injectFunction((
      FunctionIdentifier("format5_decode"),
      new ExpressionInfo(
        classOf[Format5Decode].getCanonicalName,
        null,
        "format5_decode",
        "format5_decode(payload) - Decodes a 24-byte RuuviTag data-format-5 payload " +
          "into (temperature, humidity, pressure, acceleration_x/y/z, movement_counter); " +
          "NULL when the payload is not a valid format-5 frame.",
        "", "", "", "misc_funcs", "4.0.0", "", "built-in"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"format5_decode expects 1 argument (payload BINARY), got ${children.length}")
        Format5Decode(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("vector_dot"),
      new ExpressionInfo(
        classOf[VectorDot].getCanonicalName,
        null,
        "vector_dot",
        "vector_dot(a, b) - Sequential-fold dot product of two ARRAY<DOUBLE> vectors; " +
          "NULL on length mismatch or NULL elements.",
        "", "", "", "misc_funcs", "4.0.0", "", "built-in"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"vector_dot expects 2 arguments (a, b ARRAY<DOUBLE>), got ${children.length}")
        VectorDot(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(
        classOf[NfcNormalize].getCanonicalName,
        null,
        "nfc_normalize",
        "nfc_normalize(s) - Unicode NFC normalization of a string; identity on " +
          "ASCII and already-normalized input, NULL on NULL.",
        "", "", "", "misc_funcs", "4.0.0", "", "built-in"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"nfc_normalize expects 1 argument (s STRING), got ${children.length}")
        NfcNormalize(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("nibble_counts"),
      new ExpressionInfo(
        classOf[NibbleCounts].getCanonicalName,
        null,
        "nibble_counts",
        "nibble_counts(s) - 16-element array of hex-digit class counts of s " +
          "(both cases; non-hex bytes ignored), in one allocation-free pass; " +
          "NULL on NULL.",
        "", "", "", "misc_funcs", "4.0.0", "", "built-in"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"nibble_counts expects 1 argument (s STRING), got ${children.length}")
        NibbleCounts(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("char_class_counts"),
      new ExpressionInfo(
        classOf[CharClassCounts].getCanonicalName,
        null,
        "char_class_counts",
        "char_class_counts(s, alphabet) - per-character occurrence counts of the " +
          "pure-ASCII alphabet in s, as one array in one pass; NULL on NULL.",
        "", "", "", "misc_funcs", "4.0.0", "", "built-in"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"char_class_counts expects 2 arguments (s, alphabet STRING), got ${children.length}")
        CharClassCounts(children.head, children(1))
      }))
    // ---- the TOKENIZER-PARITY shim: DuckDB's
    // `string_split`/`unnest` spellings registered as ALIASES over
    // Spark's own codegen'd expressions, so tokenize-dependent queries
    // can ride the q27 "one text, two engines" contract — the driver's
    // plain DuckDB needs NO macro because these are DuckDB's native
    // names; Spark gains them here. Aliases, not new expressions: the
    // extension-ladder floor (compose existing ops) applies to dialect
    // shims too.
    ext.injectFunction((
      FunctionIdentifier("string_split"),
      new ExpressionInfo(
        classOf[StringSplit].getCanonicalName,
        null,
        "string_split",
        "string_split(s, sep) - Splits s on the LITERAL separator sep " +
          "(DuckDB semantics: trailing empty strings kept, '' yields ['']) — " +
          "lowered to Spark's split with the separator regex-quoted at " +
          "parse time. sep must be a string literal.",
        "", "", "", "string_funcs", "4.0.0", "", "built-in"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"string_split expects 2 arguments (s, sep STRING), got ${children.length}")
        val quoted = children(1) match {
          // quote at build time: Spark's split treats the separator as a
          // REGEX; DuckDB's string_split treats it as a LITERAL. A
          // foldable literal is quoted once here; a non-literal separator
          // has no safe lowering (quoting would need a per-row regex
          // compile), so the shim rejects it — the shared-SQL contract
          // only ever passes literal separators.
          case Literal(s: UTF8String, StringType) =>
            Literal(UTF8String.fromString(
              java.util.regex.Pattern.quote(s.toString)), StringType)
          case _ => throw new IllegalArgumentException(
            "string_split(s, sep): sep must be a string LITERAL " +
              "(the tokenizer-parity shim quotes it at parse time)")
        }
        StringSplit(children.head, quoted, Literal(-1))
      }))
    ext.injectFunction((
      FunctionIdentifier("unnest"),
      new ExpressionInfo(
        classOf[Explode].getCanonicalName,
        null,
        "unnest",
        "unnest(array) - DuckDB's array-flattening spelling, lowered to " +
          "Spark's explode (empty array and NULL both yield zero rows on " +
          "both engines).",
        "", "", "", "generator_funcs", "4.0.0", "", "built-in"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"unnest expects 1 argument (ARRAY), got ${children.length}")
        Explode(children.head)
      }))
  }
}
