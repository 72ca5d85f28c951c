package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.Num.oround
import graft.functions.TextFns

/** Text-analysis family over `documents`: language stats, quality
  * scoring, heuristic language-ID, dual tokenization, and winnowing
  * fingerprints.
  *
  * All per-doc feature extraction is higher-order array functions — one
  * narrow pass, WholeStageCodegen, no UDFs — followed by a single
  * map-side-combined aggregate whose output is bounded by |langs| or
  * |docs|, so every query here survives a 100× scale-up unchanged.
  */
object TextQueries {

  /** Lowercase alphabet + space — the t13 entropy buckets (anything
    * else lands in the shared "other" bucket on both engines).
    * Declared first: [[alphaList]] interpolates it at object init. */
  private[queries] val Alphabet: Seq[String] = ('a' to 'z').map(_.toString) :+ " "

  private val stopwords = Seq("the", "a", "and", "of")

  /** T1 — per-language corpus stats (doc counts, avg chars, avg tokens). */
  private def t01(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        oround(avg("n_chars"), 2).as("avg_chars"),
        oround(avg(size(split(col("text"), " "))), 2).as("avg_tokens"))
      .orderBy("lang")

  /** T8 — repetition ratio: the fraction of bigram OCCURRENCES that are
    * repeats (1 − distinct/total), the cheap boilerplate/loop-generation
    * signal corpus filters cut on (a templated or degenerate doc repeats
    * its n-grams; clean prose doesn't). Top-50 most repetitive docs.
    * Narrow per-row work; the only shuffle is the top-k. */
  private def t08(s: SparkSession, d: String): DataFrame = {
    val toks = col("toks")
    val nBi = (size(toks) - 1).cast("double")
    val nDist = size(TextFns.shinglesOf(toks, 2)).cast("double") // shinglesOf is distinct
    graft.Tables.rebalance(s, documents(s, d))
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), oround(lit(1.0) - nDist / nBi, 3).as("rep_ratio"))
      .orderBy(col("rep_ratio").desc, col("doc_id"))
      .limit(50)
  }

  /** T2 — document quality score: 0.4·length + 0.3·(1−stopword ratio) +
    * 0.3·lexical diversity, the classic cheap pre-filter for training-data
    * curation. Arithmetic is all-double with left-assoc ordering, matching
    * the oracle bit for bit before the final round. */
  private def t02(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        oround(TextFns.qualityOf(col("toks")), 3).as("quality"))
      .orderBy("doc_id")
      .limit(100)

  /** T3 — heuristic language ID (stopword-ratio n-gram heuristic) with a
    * confusion matrix against the labeled `lang`. */
  private def t03(s: SparkSession, d: String): DataFrame = {
    val toks = col("toks")
    val ratio = size(filter(toks, w => w.isin(stopwords: _*))).cast("double") / size(toks)
    documents(s, d)
      .select(col("lang"), TextFns.tokens(col("text")).as("toks"))
      .select(col("lang"), when(ratio >= 0.05, "en").otherwise("other").as("pred"))
      .groupBy("lang", "pred")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred")
  }

  /** T4 — token counting two ways: whitespace split vs a BPE-ish regex
    * ([a-z]+ | digit runs | single punctuation). Identical regex dialect
    * subset in Java and DuckDB's RE2. */
  private def t04(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(
        col("lang"),
        size(split(col("text"), " ")).as("ws_tok"),
        size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).as("re_tok"))
      .groupBy("lang")
      .agg(
        sum("ws_tok").as("ws_tokens"),
        sum("re_tok").as("re_tokens"),
        oround(avg("ws_tok"), 2).as("avg_ws"))
      .orderBy("lang")

  /** T5 — winnowing document fingerprints (MOSS-style): bigram hash
    * stream → sliding window of 4 → per-window min → distinct selected
    * hashes. Output is the fingerprint-set size per doc; the set itself is
    * the near-dup index key at scale. */
  private def t05(s: SparkSession, d: String): DataFrame = {
    // Stage toks, then the k-gram hash stream, THEN window over it: with
    // the hash stream inlined into the window lambda the full md5 stream
    // re-evaluates once per window position — measured 92 s vs ~1 s at
    // sf0.1 (TextFns performance contract).
    val fps = array_distinct(
      transform(
        sequence(lit(1), size(col("hs")) - 3),
        i => array_min(slice(col("hs"), i, lit(4)))))
    documents(s, d)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 5)
      .select(col("doc_id"), TextFns.kgramHashes(col("toks"), 2).as("hs"))
      .select(col("doc_id"), size(fps).cast("long").as("n_fingerprints"))
      .orderBy("doc_id")
      .limit(100)
  }

  /** T6 — TF-IDF top terms per language: tf over (lang, term), idf over
    * document frequency, top-5 per lang via a ranking window. ONE corpus
    * pass: tf and the per-(lang, term) distinct-doc count come from the
    * SAME aggregate, and df(term) = Σ_lang dfl — exact because each doc
    * has exactly one lang, so the per-lang doc sets partition the
    * corpus. (Through round 4 tf and df each re-scanned the corpus; the
    * localCheckpoint pins the vocab-bounded aggregate so the df re-agg
    * and the join read it, not the lineage.) The tf⋈df join is on
    * `term` — df is vocabulary-sized (unbounded in the corpus), so
    * forcing it into a driver broadcast would OOM at web scale; AQE may
    * still choose broadcast when the measured size is small. The 1-row
    * `nd` side is the only side we *pin* as broadcast. */
  private def t06(s: SparkSession, d: String): DataFrame = {
    val tok = documents(s, d)
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("term"))
    val tf = tok.groupBy("lang", "term")
      .agg(count(lit(1)).as("tf"), countDistinct("doc_id").as("dfl"))
      .localCheckpoint()
    val df = tf.groupBy("term").agg(sum("dfl").as("df"))
    // corpus size as a broadcast 1-row side — declarative, no driver action
    val nd = documents(s, d).agg(count(lit(1)).cast("double").as("n"))
    val scored = tf
      .join(df, Seq("term"))
      .crossJoin(broadcast(nd))
      .select(
        col("lang"), col("term"),
        oround(col("tf") * log(col("n") / col("df")), 4).as("score"))
    val w = Window.partitionBy("lang").orderBy(col("score").desc, col("term"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .drop("rn")
      .orderBy(col("lang"), col("score").desc, col("term"))
  }

  /** T7 — bigram language-model scoring: P(w2|w1) from corpus counts,
    * per-doc mean log-probability — the perplexity-style quality signal
    * for training-data curation. The bigram/unigram count tables are
    * vocabulary²-sized — unbounded in the corpus — so they are NOT
    * broadcast-hinted: on a web-scale corpus tens of GB of (w1,w2)
    * counts through the driver is the classic broadcast OOM. The scoring
    * joins key on (w1,w2)/(w1) and AQE picks broadcast only when the
    * measured size is actually small. The localCheckpoint keeps the count
    * tables computed ONCE (plan-asserted: one parquet scan total). */
  private def t07(s: SparkSession, d: String): DataFrame = {
    val t = graft.Tables.rebalance(s, documents(s, d))
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
    val bg = t
      .select(
        col("doc_id"),
        explode(transform(
          sequence(lit(1), size(col("toks")) - 1),
          i => struct(
            element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    // localCheckpoint materializes the vocabulary-sized bigram counts
    // ONCE — without it, cb, cu's lineage and the probe join each
    // re-execute the full corpus tokenize+explode (3 passes)
    val cb = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2")).localCheckpoint()
    val cu = cb.groupBy("w1").agg(sum("c2").as("c1"))
    bg
      .join(cb, Seq("w1", "w2"))
      .join(cu, Seq("w1"))
      .select(col("doc_id"), log(col("c2").cast("double") / col("c1")).as("lp"))
      .groupBy("doc_id")
      .agg(oround(avg("lp"), 4).as("avg_logprob"), count(lit(1)).as("n_bigrams"))
      .orderBy("doc_id")
  }

  /** Word-boundary denylist — the scrub pattern t09 applies. On real
    * data this is the PII alternation (emails, phone shapes, id
    * numbers); this corpus is digit-free synthetic prose, so the
    * denylist stands in for the pattern while the operator shape —
    * match, count, replace in one narrow pass — is the real one. */
  private val denyPat = "\\b(customer|spark|vector)\\b"

  /** T9 — denylist scrub (the PII-redaction shape): replace every
    * denylisted term with a mask token and report per-language reach —
    * docs touched, total redactions, mean bytes removed. Match counting
    * and replacement run in the SAME projection, so the corpus is read
    * once, narrow, no shuffle until the |langs|-bounded aggregate; at
    * 100 TB the scrubbed text would flow straight to the sink while
    * these counters ride along as the audit. */
  private def t09(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(
        col("lang"),
        length(col("text")).as("len0"),
        length(regexp_replace(col("text"), denyPat, "[X]")).as("len1"),
        size(regexp_extract_all(col("text"), lit(denyPat), lit(0))).as("nhit"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("nhit") > 0, 1L).otherwise(0L)).as("docs_hit"),
        sum("nhit").as("n_redactions"),
        oround(avg(col("len0") - col("len1")), 2).as("avg_len_drop"))
      .orderBy("lang")

  /** T10 — vocabulary coverage curve: what fraction of all token
    * occurrences the top-N vocabulary covers — the curve that sizes a
    * tokenizer vocab (or a stopword list) against a corpus. The ranked
    * running sum is a single-partition window, which is exactly right
    * here: its input is the |vocab|-bounded term-count table, not the
    * corpus — the heavy lifting happened in the map-side-combined
    * aggregate below it. */
  private def t10(s: SparkSession, d: String): DataFrame = {
    val byFreq = Window.orderBy(col("c").desc, col("term"))
    val cum = byFreq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    documents(s, d)
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("c"))
      .select(
        col("term"), col("c"),
        row_number().over(byFreq).cast("long").as("rank"),
        sum("c").over(cum).as("cum"),
        sum("c").over(whole).as("total"))
      .filter(col("rank").isin(1L, 5L, 10L, 20L, 30L))
      .select(
        col("rank"), col("term"),
        col("cum").cast("long").as("cum_tokens"),
        oround(col("cum").cast("double") / col("total"), 4).as("coverage"))
      .orderBy("rank")
  }

  /** T11 — quality-CLASSIFIER inference: a fixed-weight logistic model
    * over t02's features ([[graft.functions.TextFns.qualityOf]] is the
    * shared feature definition), scored per document and summarized as
    * per-language keep/drop rates — the fastText-style model-based
    * filter pass of a training-data pipeline, expressed as pure column
    * arithmetic. At 100 TB this is the ideal operator: one narrow
    * codegen'd pass over the corpus (no shuffle until the |langs|-row
    * aggregate), because the "model" is weights inside the projection,
    * not a per-row UDF call out to a runtime. Swapping in a bigger
    * linear model is adding terms to the same expression; anything
    * non-linear graduates to [[graft.multimodal.MediaFeatures]]'
    * mapPartitions seam with the same aggregate downstream. */
  /** The ONE logistic quality score t11 and t22 both apply over a
    * `quality` column: w·quality + b, steepness 8 centered at quality
    * 0.6 — fixed published weights, the inference contract (training
    * is offline). */
  // private[queries]: p16's corpus build filters with the same score
  private[queries] def qscore: Column =
    lit(1.0) / (lit(1.0) + exp(-(lit(8.0) * col("quality") - lit(4.8))))

  private def t11(s: SparkSession, d: String): DataFrame = {
    val score = qscore
    graft.Tables.rebalance(s, documents(s, d))
      .select(col("lang"), TextFns.tokens(col("text")).as("toks"))
      .select(col("lang"), TextFns.qualityOf(col("toks")).as("quality"))
      .select(col("lang"), score.as("score"))
      .groupBy("lang")
      .agg(
        count(when(col("score") > 0.5, 1)).as("n_kept"),
        count(when(col("score") <= 0.5, 1)).as("n_dropped"),
        oround(avg("score"), 4).as("avg_score"))
      .orderBy("lang")
  }

  // ------------------------------------------------------------------

  private val ot01 =
    """SELECT lang, count(*) AS n_docs, ROUND(avg(n_chars), 2) AS avg_chars,
      |  ROUND(avg(len(string_split(text,' '))), 2) AS avg_tokens
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  private val ot02 =
    """WITH q AS (SELECT doc_id,
      |  len(string_split(text,' '))::DOUBLE n_tok,
      |  len(list_filter(string_split(text,' '), w -> w IN ('the','a','and','of')))::DOUBLE n_stop,
      |  len(list_distinct(string_split(text,' ')))::DOUBLE n_distinct
      |  FROM documents)
      |SELECT doc_id, ROUND(CAST(
      |  0.4 * LEAST(n_tok / 60.0, 1.0) +
      |  0.3 * (1.0 - n_stop / n_tok) +
      |  0.3 * (n_distinct / n_tok) AS DOUBLE), 3) AS quality
      |FROM q ORDER BY doc_id LIMIT 100""".stripMargin

  private val ot03 =
    """WITH p AS (SELECT doc_id, lang,
      |  CASE WHEN len(list_filter(string_split(text,' '), w -> w IN ('the','a','and','of')))::DOUBLE
      |            / len(string_split(text,' ')) >= 0.05 THEN 'en' ELSE 'other' END pred
      |  FROM documents)
      |SELECT lang, pred, count(*) AS n FROM p GROUP BY lang, pred ORDER BY lang, pred""".stripMargin

  private val ot04 =
    """WITH t AS (SELECT lang,
      |  len(string_split(text,' ')) ws_tok,
      |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) re_tok
      |  FROM documents)
      |SELECT lang, sum(ws_tok)::BIGINT AS ws_tokens, sum(re_tok)::BIGINT AS re_tokens,
      |  ROUND(avg(ws_tok), 2) AS avg_ws FROM t GROUP BY lang ORDER BY lang""".stripMargin

  private val ot05 =
    """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
      |h AS (SELECT doc_id, list_transform(generate_series(1, len(toks)-1), i -> md5(toks[i]||' '||toks[i+1])) hs
      |      FROM t WHERE len(toks) >= 5),
      |w AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(hs)-3), i -> list_min(hs[i:i+3]))) fps FROM h)
      |SELECT doc_id, len(fps) AS n_fingerprints FROM w ORDER BY doc_id LIMIT 100""".stripMargin

  private val ot06 =
    """WITH tok AS (SELECT doc_id, lang, unnest(string_split(text,' ')) term FROM documents),
      |tf AS (SELECT lang, term, count(*) tf FROM tok GROUP BY lang, term),
      |df AS (SELECT term, count(DISTINCT doc_id) df FROM tok GROUP BY term),
      |nd AS (SELECT count(*) n FROM documents),
      |scored AS (SELECT tf.lang, tf.term,
      |  ROUND(tf.tf * ln(nd.n::DOUBLE / df.df), 4) score
      |  FROM tf JOIN df ON tf.term = df.term, nd)
      |SELECT lang, term, score FROM (
      |  SELECT lang, term, score,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score DESC, term) rn FROM scored)
      |WHERE rn <= 5 ORDER BY lang, score DESC, term""".stripMargin

  private val ot07 =
    """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
      |bg AS (SELECT doc_id, toks[i] w1, toks[i+1] w2
      |       FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks)-1)) i)
      |       WHERE len(toks) >= 2),
      |cb AS (SELECT w1, w2, count(*) c2 FROM bg GROUP BY w1, w2),
      |cu AS (SELECT w1, sum(c2) c1 FROM cb GROUP BY w1),
      |sc AS (SELECT bg.doc_id, ln(cb.c2::DOUBLE / cu.c1) lp
      |       FROM bg JOIN cb ON bg.w1=cb.w1 AND bg.w2=cb.w2 JOIN cu ON bg.w1=cu.w1)
      |SELECT doc_id, ROUND(avg(lp), 4) AS avg_logprob, count(*) AS n_bigrams
      |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val ot08 =
    """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
      |g AS (SELECT doc_id,
      |    len(toks) - 1 AS n_bi,
      |    len(list_distinct(list_transform(generate_series(1, len(toks)-1), i -> toks[i]||' '||toks[i+1]))) AS n_dist
      |  FROM t WHERE len(toks) >= 2)
      |SELECT doc_id, ROUND(1.0 - n_dist::DOUBLE / n_bi, 3) AS rep_ratio
      |FROM g ORDER BY rep_ratio DESC, doc_id LIMIT 50""".stripMargin

  private val ot09 =
    """WITH r AS (SELECT lang, length(text) len0,
      |  length(regexp_replace(text, '\b(customer|spark|vector)\b', '[X]', 'g')) len1,
      |  len(regexp_extract_all(text, '\b(customer|spark|vector)\b')) nhit
      |  FROM documents)
      |SELECT lang, count(*) AS n_docs,
      |  sum(CASE WHEN nhit > 0 THEN 1 ELSE 0 END)::BIGINT AS docs_hit,
      |  sum(nhit)::BIGINT AS n_redactions,
      |  ROUND(avg(len0 - len1), 2) AS avg_len_drop
      |FROM r GROUP BY lang ORDER BY lang""".stripMargin

  private val ot10 =
    """WITH tok AS (SELECT unnest(string_split(text,' ')) term FROM documents),
      |tc AS (SELECT term, count(*) c FROM tok GROUP BY term),
      |rk AS (SELECT term, c,
      |        row_number() OVER (ORDER BY c DESC, term) rn,
      |        sum(c) OVER (ORDER BY c DESC, term ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum,
      |        sum(c) OVER () total
      |      FROM tc)
      |SELECT rn AS rank, term, cum::BIGINT AS cum_tokens,
      |  ROUND(cum::DOUBLE / total, 4) AS coverage
      |FROM rk WHERE rn IN (1, 5, 10, 20, 30) ORDER BY rn""".stripMargin

  private val ot11 =
    """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') toks FROM documents),
      |f AS (SELECT doc_id, lang,
      |    len(toks)::DOUBLE AS n_tok,
      |    len(list_filter(toks, w -> w IN ('the','a','and','of')))::DOUBLE AS n_stop,
      |    len(list_distinct(toks))::DOUBLE AS n_dist
      |  FROM t),
      |q AS (SELECT doc_id, lang,
      |    0.4*least(n_tok/60.0, 1.0) + 0.3*(1.0 - n_stop/n_tok) + 0.3*(n_dist/n_tok) AS quality
      |  FROM f),
      |s AS (SELECT doc_id, lang, 1.0/(1.0+exp(-(8.0*quality - 4.8))) AS score FROM q)
      |SELECT lang, count(*) FILTER (score > 0.5) AS n_kept,
      |  count(*) FILTER (score <= 0.5) AS n_dropped,
      |  ROUND(avg(score), 4) AS avg_score
      |FROM s GROUP BY lang ORDER BY lang""".stripMargin

  /** T12 — one BPE-merge LEARNING step: count adjacent character pairs
    * inside whitespace tokens across the corpus and surface the top
    * merges — the inner loop of byte-pair-encoding tokenizer training
    * (each training round merges the argmax pair and recounts). The
    * WordCount shape: per-row flatten/transform fan-out into (pair)
    * rows, partial aggregation before the one shuffle, top-20 via
    * TakeOrderedAndProject. At 100 TB the explode multiplies rows by
    * ~chars-per-doc but each carries a 2-char key — the map-side
    * combine collapses them to |alphabet|² partials per task. */
  private def t12(s: SparkSession, d: String): DataFrame =
    graft.Tables.rebalance(s, documents(s, d))
      .select(explode(flatten(transform(TextFns.tokens(col("text")), tok =>
        when(length(tok) >= 2,
          transform(sequence(lit(1), length(tok) - 1), i => tok.substr(i, lit(2))))
          .otherwise(array().cast("array<string>"))))).as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(20)

  private val ot12 =
    """WITH p AS (SELECT unnest(flatten(list_transform(string_split(text, ' '), tok ->
      |    CASE WHEN length(tok) >= 2
      |      THEN list_transform(generate_series(1, length(tok) - 1), i -> substr(tok, i, 2))
      |      ELSE [] END))) AS pair FROM documents)
      |SELECT pair, count(*) AS n FROM p GROUP BY 1 ORDER BY n DESC, pair LIMIT 20""".stripMargin

  /** T13 — character-ENTROPY quality signal: Shannon entropy of the
    * per-document character distribution (low entropy ⇒ repetitive /
    * machine-generated text; gibberish scores high). Computed WITHOUT
    * exploding to characters: the 27 alphabet counts come from ONE
    * pass of the native `char_class_counts` expression
    * ([[graft.plans.CharClassCounts]] — the first form was a
    * length-replace pair per character, ~54 full-string scan subtrees
    * in one fused projection, the JIT-threshold shape the m07
    * investigation measured falling out of compiled code; counts are
    * exact ints either way, so the entropy floats and the oracle are
    * bit-unchanged), zero fan-out, no shuffle until the |langs|-row
    * aggregate. The explode-per-char formulation would multiply the
    * corpus row count by n_chars; this one reads each doc once and
    * emits one double. */
  private def t13(s: SparkSession, d: String): DataFrame = {
    val t = lower(col("text"))
    val n = length(t).cast("double")
    val counts: Seq[Column] = TextQueries.Alphabet.indices.map(i =>
      element_at(col("cc"), i + 1).cast("double"))
    def term(c: Column): Column = when(c > 0, (c / n) * log(c / n)).otherwise(lit(0.0))
    val ent = -(counts.map(term).reduce(_ + _) + term(n - counts.reduce(_ + _)))
    documents(s, d)
      .filter(length(col("text")) > 0)
      .select(col("lang"), col("text"),
        call_function("char_class_counts", t,
          lit(TextQueries.Alphabet.mkString)).as("cc"))
      .select(col("lang"), ent.as("ent"))
      .groupBy("lang")
      .agg(
        oround(avg("ent"), 4).as("avg_entropy"),
        oround(min("ent"), 4).as("min_entropy"),
        oround(max("ent"), 4).as("max_entropy"))
      .orderBy("lang")
  }

  private val alphaList =
    Alphabet.map(c => if (c == " ") "' '" else s"'$c'").mkString("[", ", ", "]")

  private val ot13 =
    s"""WITH t0 AS (SELECT lang, lower(text) t, length(text)::DOUBLE n
      |  FROM documents WHERE length(text) > 0),
      |c AS (SELECT lang, n,
      |   list_transform($alphaList, ch -> (length(t) - length(replace(t, ch, '')))::DOUBLE) cs
      |   FROM t0),
      |h AS (SELECT lang,
      |   -(list_sum(list_transform(cs, x -> CASE WHEN x > 0 THEN (x/n)*ln(x/n) ELSE 0 END))
      |     + CASE WHEN n - list_sum(cs) > 0
      |         THEN ((n - list_sum(cs))/n)*ln((n - list_sum(cs))/n) ELSE 0 END) ent
      |   FROM c)
      |SELECT lang, ROUND(avg(ent), 4) AS avg_entropy, ROUND(min(ent), 4) AS min_entropy,
      |  ROUND(max(ent), 4) AS max_entropy
      |FROM h GROUP BY lang ORDER BY lang""".stripMargin

  /** Decomposed suffixes t14 splices onto the ASCII driver corpus —
    * `e`+U+0301 and `o`+U+0308, which NFC composes to `é`/`ö` (one char
    * shorter). Shared by the Spark side and the oracle SQL so both
    * engines normalize byte-identical input. */
  private val DecoCafe = " caf" + "e\u0301"
  private val DecoTone = " t" + "o\u0308" + "ne"

  /** T14 — Unicode NFC normalization over the corpus, via the native
    * [[graft.plans.NfcNormalize]] expression (`nfc_normalize`, the same
    * builtin name DuckDB uses — the oracle is an engine-vs-engine check
    * of the normalization itself, not of a reimplementation). A corpus
    * mixing composed and decomposed spellings breaks exact dedup and
    * shingle hashing (the strings hash differently, render identically),
    * so NFC is pass zero of every text pipeline here.
    *
    * The driver corpus is pure ASCII — where NFC is the identity and the
    * expression's zero-allocation fast path applies — so the query
    * splices deterministic decomposed suffixes onto a third of the docs
    * to exercise the composing path, and reports per-language how many
    * docs changed and how many chars composition saved. One narrow scan,
    * all scalar work inside WholeStageCodegen, one |langs|-row
    * aggregate — scan-bound at any scale. */
  private def t14(s: SparkSession, d: String): DataFrame = {
    val t2 = concat(
      col("text"),
      when(col("doc_id") % 3 === 0, lit(DecoCafe))
        .when(col("doc_id") % 3 === 1, lit(DecoTone))
        .otherwise(lit(" plain")))
    documents(s, d)
      .select(col("lang"), t2.as("t2"))
      .select(col("lang"), col("t2"), expr("nfc_normalize(t2)").as("nt"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("nt") =!= col("t2"), 1L).otherwise(0L)).as("n_changed"),
        sum(length(col("t2")) - length(col("nt"))).as("chars_saved"))
      .orderBy("lang")
  }

  private val ot14 =
    s"""WITH t AS (SELECT lang,
      |  text || CASE WHEN doc_id % 3 = 0 THEN '$DecoCafe'
      |               WHEN doc_id % 3 = 1 THEN '$DecoTone'
      |               ELSE ' plain' END AS t2
      |  FROM documents)
      |SELECT lang, count(*) AS n_docs,
      |  sum(CASE WHEN nfc_normalize(t2) <> t2 THEN 1 ELSE 0 END)::BIGINT AS n_changed,
      |  sum(length(t2) - length(nfc_normalize(t2)))::BIGINT AS chars_saved
      |FROM t GROUP BY lang ORDER BY lang""".stripMargin

  /** Count-min sketch parameters: d=4 hash rows × w=512 buckets. Each
    * row's hash is a universal-hash permutation `((a·h + b) mod p) mod w`
    * over the shared 28-bit md5 token hash (the [[TextFns.shingleHashes]]
    * bound: h < 2^28 and a < 2^21 keep a·h+b under 2^63 in BOTH engines —
    * DuckDB BIGINT overflow throws). */
  private val CmP = 2147483647L
  private val CmW = 512
  private val CmA = Seq(1000003L, 1000033L, 1000037L, 1000039L)
  private val CmB = Seq(12345L, 67891L, 24680L, 13579L)

  /** The d (j, bucket) sketch coordinates of a materialized 28-bit hash
    * column — shared by the build side and the probe side so the two
    * cannot drift. */
  private def cmCoords(h: Column): Column =
    explode(array(CmA.indices.map(j =>
      struct(lit(j).as("j"),
        pmod(pmod(h * CmA(j) + CmB(j), lit(CmP)), lit(CmW)).as("bucket"))): _*))

  /** T15 — HEAVY-HITTER audit: a count-min sketch (d=4 × w=512 — fixed
    * 2048 counters regardless of corpus size) built over the token
    * stream in one partially-aggregated shuffle, probed for every vocab
    * token, audited against the exact counts. At 100 TB the exact
    * top-k (q17b) shuffles the full vocabulary; the sketch is the
    * fixed-memory alternative whose counters merge across partitions /
    * days / sources by plain addition — THIS query is the harness that
    * licenses it, reporting per-token `est ≥ exact` (the one-sided CMS
    * guarantee: collisions only ever inflate) and the absolute
    * overestimate. The probe join broadcasts the 2048-row sketch;
    * the vocab pass doubles as the exact audit side, so the corpus is
    * read once per side, never per hash row ([[cmCoords]] fans each
    * token to its d coordinates with ONE explode). */
  private def t15(s: SparkSession, d: String): DataFrame = {
    val toks = rebalance(s, documents(s, d))
      .select(explode(TextFns.tokens(col("text"))).as("tok"))
    val h28 = conv(substring(md5(col("tok").cast("binary")), 1, 7), 16, 10).cast("long")
    val sketch = toks
      .select(h28.as("h"))
      .select(cmCoords(col("h")).as("k"))
      .groupBy(col("k.j").as("j"), col("k.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("n_exact"))
    vocab
      .select(col("tok"), col("n_exact"), h28.as("h"))
      .select(col("tok"), col("n_exact"), cmCoords(col("h")).as("k"))
      .join(broadcast(sketch),
        col("k.j") === col("j") && col("k.bucket") === col("bucket"))
      .groupBy("tok")
      .agg(min("n_exact").as("n_exact"), min("cnt").as("n_est"))
      .select(col("tok"), col("n_exact"), col("n_est"),
        (col("n_est") >= col("n_exact")).as("never_under"),
        (col("n_est") - col("n_exact")).as("overestimate"))
      .orderBy(col("n_exact").desc, col("tok"))
      .limit(20)
  }

  private val ot15 = {
    val params = CmA.indices
      .map(j => s"(${j}, ${CmA(j)}, ${CmB(j)})").mkString(", ")
    s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |params(j, a, b) AS (VALUES $params),
      |keyed AS (SELECT tok, j,
      |    ((('0x'||substr(md5(tok),1,7))::BIGINT * a + b) % $CmP) % $CmW AS bucket
      |  FROM toks, params),
      |sketch AS (SELECT j, bucket, count(*) AS cnt FROM keyed GROUP BY 1, 2),
      |vocab AS (SELECT tok, count(*) AS n_exact FROM toks GROUP BY 1),
      |probe AS (SELECT v.tok, v.n_exact, p.j,
      |    ((('0x'||substr(md5(v.tok),1,7))::BIGINT * p.a + p.b) % $CmP) % $CmW AS bucket
      |  FROM vocab v, params p),
      |est AS (SELECT tok, min(n_exact) AS n_exact, min(cnt) AS n_est
      |  FROM probe JOIN sketch USING (j, bucket) GROUP BY tok)
      |SELECT tok, n_exact, n_est, n_est >= n_exact AS never_under,
      |  n_est - n_exact AS overestimate
      |FROM est ORDER BY n_exact DESC, tok LIMIT 20""".stripMargin
  }

  /** The three structural PII patterns t16 detects and scrubs — shared
    * between the Spark expression and the DuckDB oracle text, and kept
    * to the regex subset Java regex and RE2 parse identically. */
  private val PiiEmail = "[a-z0-9]+@[a-z]+\\.[a-z]+"
  private val PiiPhone = "555-[0-9]{4}"
  private val PiiIp = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** T16 — structural PII detection + scrub, completing t09 (which
    * matches a TERM denylist; real redaction pipelines need PATTERN
    * classes too: addresses nobody enumerated). Synthetic PII is
    * injected deterministically by doc_id (the t14 deco trick — the
    * corpus itself is clean, so the oracle pins both the injection and
    * the detection), then each class is counted with
    * `regexp_extract_all` and removed with chained `regexp_replace` —
    * all codegen'd per-row column expressions, zero UDFs, one narrow
    * pass; the only shuffle is the |langs|-row rollup. `chars_redacted`
    * audits that the scrub removed exactly the matched spans. At 100 TB
    * this is scan-bound like x03 — regex cost rides the already-paid
    * decompress pass. */
  private def t16(s: SparkSession, d: String): DataFrame = {
    val did = col("doc_id").cast("string")
    val injected = concat(col("text"),
      when(col("doc_id") % 4 === 0,
        concat(lit(" contact user"), did, lit("@example.com now")))
        .when(col("doc_id") % 4 === 1,
          concat(lit(" call 555-"), (col("doc_id") % 9000 + 1000).cast("string"),
            lit(" today")))
        .when(col("doc_id") % 4 === 2,
          concat(lit(" from 192.168."), (col("doc_id") % 256).cast("string"),
            lit("."), (col("doc_id") % 100).cast("string"), lit(" logged")))
        .otherwise(lit("")))
    val scrubbed = regexp_replace(
      regexp_replace(regexp_replace(col("t2"), PiiEmail, ""), PiiPhone, ""),
      PiiIp, "")
    documents(s, d)
      .select(col("lang"), col("doc_id"), injected.as("t2"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(regexp_extract_all(col("t2"), lit(PiiEmail), lit(0)))).as("n_email"),
        sum(size(regexp_extract_all(col("t2"), lit(PiiPhone), lit(0)))).as("n_phone"),
        sum(size(regexp_extract_all(col("t2"), lit(PiiIp), lit(0)))).as("n_ip"),
        sum(length(col("t2")) - length(scrubbed)).as("chars_redacted"))
      .orderBy("lang")
  }

  private val ot16 =
    s"""WITH t AS (SELECT lang,
      |  text || CASE
      |    WHEN doc_id % 4 = 0 THEN ' contact user' || doc_id || '@example.com now'
      |    WHEN doc_id % 4 = 1 THEN ' call 555-' || (doc_id % 9000 + 1000) || ' today'
      |    WHEN doc_id % 4 = 2 THEN ' from 192.168.' || (doc_id % 256) || '.' || (doc_id % 100) || ' logged'
      |    ELSE '' END AS t2
      |  FROM documents)
      |SELECT lang, count(*) AS n_docs,
      |  sum(len(regexp_extract_all(t2, '$PiiEmail')))::BIGINT AS n_email,
      |  sum(len(regexp_extract_all(t2, '$PiiPhone')))::BIGINT AS n_phone,
      |  sum(len(regexp_extract_all(t2, '$PiiIp')))::BIGINT AS n_ip,
      |  sum(len(t2) - len(regexp_replace(regexp_replace(regexp_replace(t2,
      |    '$PiiEmail', '', 'g'), '$PiiPhone', '', 'g'), '$PiiIp', '', 'g')))::BIGINT
      |    AS chars_redacted
      |FROM t GROUP BY 1 ORDER BY 1""".stripMargin

  /** T17 — Unicode SCRIPT-MIX detection: per-document Han and Cyrillic
    * character counts via script-property regex classes (`\p{IsHan}` in
    * Java regex ≡ `\p{Han}` in RE2 — same BMP membership for the
    * injected samples), the multilingual-curation signal a Latin-only
    * lang-ID (t03) cannot produce: a document whose script mix
    * disagrees with its declared lang is a mislabel or a mixed crawl
    * page. Counting is the length-difference trick (strip the class,
    * diff the lengths — both engines count BMP codepoints identically),
    * a codegen'd narrow pass like t16; the corpus is ASCII so the
    * samples are injected deterministically by doc_id (the t14 trick —
    * the oracle pins injection AND detection). */
  private def t17(s: SparkSession, d: String): DataFrame = {
    val injected = concat(col("text"),
      when(col("doc_id") % 5 === 0, lit(" 中文样本"))
        .when(col("doc_id") % 5 === 1, lit(" Пример текста"))
        .when(col("doc_id") % 5 === 2, lit(" 混合 текст"))
        .otherwise(lit("")))
    def stripped(cls: String) = regexp_replace(col("t2"), cls, "")
    documents(s, d)
      .select(col("lang"), col("doc_id"), injected.as("t2"))
      .select(col("lang"),
        (length(col("t2")) - length(stripped("\\p{IsHan}"))).as("han"),
        (length(col("t2")) - length(stripped("\\p{IsCyrillic}"))).as("cyr"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("han") > 0, 1L).otherwise(0L)).as("docs_with_han"),
        sum(when(col("cyr") > 0, 1L).otherwise(0L)).as("docs_with_cyrillic"),
        sum("han").as("han_chars"),
        sum("cyr").as("cyr_chars"))
      .orderBy("lang")
  }

  private val ot17 =
    """WITH t AS (SELECT lang,
      |  text || CASE WHEN doc_id % 5 = 0 THEN ' 中文样本'
      |               WHEN doc_id % 5 = 1 THEN ' Пример текста'
      |               WHEN doc_id % 5 = 2 THEN ' 混合 текст'
      |               ELSE '' END AS t2
      |  FROM documents),
      |c AS (SELECT lang,
      |    len(t2) - len(regexp_replace(t2, '\p{Han}', '', 'g')) AS han,
      |    len(t2) - len(regexp_replace(t2, '\p{Cyrillic}', '', 'g')) AS cyr
      |  FROM t)
      |SELECT lang, count(*) AS n_docs,
      |  sum(CASE WHEN han > 0 THEN 1 ELSE 0 END)::BIGINT AS docs_with_han,
      |  sum(CASE WHEN cyr > 0 THEN 1 ELSE 0 END)::BIGINT AS docs_with_cyrillic,
      |  sum(han)::BIGINT AS han_chars, sum(cyr)::BIGINT AS cyr_chars
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  /** T18 — Zipf fit: least-squares slope of log-frequency vs log-rank
    * over the top-500 corpus tokens, the one-number lexical-health
    * check (natural text ≈ −1; template/boilerplate corpora flatten,
    * spam steepens). Shape discipline: token counts collapse in one
    * partially-aggregated shuffle; the top-500 cut is
    * TakeOrderedAndProject (distributed heap top-k, no global vocab
    * sort — vocabularies at 100 TB are billions of terms); ranking and
    * the regression then run over ≤500 rows. regr_slope/regr_r2 are
    * single-pass codegen'd aggregates in both engines. */
  private def t18(s: SparkSession, d: String): DataFrame = {
    val top = documents(s, d)
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term"))
      .limit(500)
      .withColumn(
        "rnk",
        row_number().over(Window.orderBy(col("cnt").desc, col("term"))))
    top.agg(
      count(lit(1)).as("n_top"),
      oround(regr_slope(log(col("cnt")), log(col("rnk"))), 4).as("zipf_slope"),
      oround(regr_r2(log(col("cnt")), log(col("rnk"))), 4).as("fit_r2"))
  }

  private val ot18 =
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
      |c AS (SELECT term, count(*) AS cnt FROM tok GROUP BY 1),
      |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rnk
      |      FROM c ORDER BY cnt DESC, term LIMIT 500)
      |SELECT count(*) AS n_top,
      |  ROUND(regr_slope(ln(cnt), ln(rnk)), 4) AS zipf_slope,
      |  ROUND(regr_r2(ln(cnt), ln(rnk)), 4) AS fit_r2
      |FROM r""".stripMargin

  /** T19 — PMI collocations: the top bigrams by pointwise mutual
    * information `log2(N·c(w1,w2) / (c(w1,·)·c(·,w2)))` with a min-count
    * guard — the classic multiword-expression miner (phrase tables,
    * tokenizer merge candidates, boilerplate detection). All three count
    * tables derive from ONE corpus tokenize pass: the bigram counts are
    * localCheckpointed (the t07 discipline — without the barrier the
    * left/right marginals and the total each re-run the corpus explode),
    * and the marginals + total are vocab²-bounded aggregates OVER that
    * checkpoint, never over the corpus. The final scoring join is
    * vocab-sized, AQE picks broadcast when the marginals measure small,
    * and the top-50 cut is a distributed heap (TakeOrderedAndProject),
    * not a global sort — at 100 TB the only corpus-sized stage is the
    * one map-side-combined bigram count. */
  private def t19(s: SparkSession, d: String): DataFrame = {
    val bg = graft.Tables.rebalance(s, documents(s, d))
      .select(TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => struct(
          element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val cb = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2")).localCheckpoint()
    val cl = cb.groupBy("w1").agg(sum("c2").as("cl"))
    val cr = cb.groupBy("w2").agg(sum("c2").as("cr"))
    val nf = cb.agg(sum("c2").cast("double").as("n"))
    cb.filter(col("c2") >= 5)
      .join(cl, Seq("w1"))
      .join(cr, Seq("w2"))
      .crossJoin(broadcast(nf))
      .select(
        col("w1"), col("w2"), col("c2"),
        oround(
          log2(col("n") * col("c2") /
            (col("cl").cast("double") * col("cr").cast("double"))),
          4).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(50)
  }

  private val ot19 =
    """WITH t AS (SELECT string_split(text,' ') toks FROM documents),
      |bg AS (SELECT toks[i] w1, toks[i+1] w2
      |       FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks)-1)) i)
      |       WHERE len(toks) >= 2),
      |cb AS (SELECT w1, w2, count(*) c2 FROM bg GROUP BY w1, w2),
      |cl AS (SELECT w1, sum(c2) cl FROM cb GROUP BY w1),
      |cr AS (SELECT w2, sum(c2) cr FROM cb GROUP BY w2),
      |n AS (SELECT sum(c2)::DOUBLE n FROM cb)
      |SELECT cb.w1, cb.w2, cb.c2,
      |  ROUND(log2(n.n * cb.c2 / (cl.cl::DOUBLE * cr.cr::DOUBLE)), 4) AS pmi
      |FROM cb JOIN cl ON cb.w1 = cl.w1 JOIN cr ON cb.w2 = cr.w2, n
      |WHERE cb.c2 >= 5
      |ORDER BY pmi DESC, cb.w1, cb.w2 LIMIT 50""".stripMargin

  /** T20 — first-occurrence NOVELTY score: per document, the fraction
    * of its distinct word 8-grams that appear for the FIRST time in the
    * corpus (doc_id order = ingestion order; ties attribute to the
    * earliest writer via `min`). Low-novelty documents are boilerplate /
    * template reprints — the curation signal between exact dedup (d01)
    * and containment (d13). Shape: one corpus tokenize pass, a
    * map-side-combined min per gram, and the join back keys both sides
    * on the gram hash — the aggregate output is already h-partitioned,
    * so AQE reuses the exchange for the probe side. No all-pairs
    * anywhere; the result is folded to a bounded decile histogram. */
  private def t20(s: SparkSession, d: String): DataFrame = {
    val g = graft.Tables.rebalance(s, documents(s, d))
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 8)
      .select(col("doc_id"),
        explode(array_distinct(TextFns.kgramHashes(col("toks"), 8))).as("h"))
    val first = g.groupBy("h").agg(min("doc_id").as("first_doc"))
    g.join(first, Seq("h"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("double").as("n_g"),
        sum(when(col("first_doc") === col("doc_id"), 1.0).otherwise(0.0))
          .as("n_novel"))
      .select(
        least(floor(col("n_novel") / col("n_g") * 10), lit(9L))
          .cast("long").as("decile"),
        (col("n_novel") / col("n_g")).as("nov"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"), oround(avg("nov"), 4).as("avg_novelty"))
      .orderBy("decile")
  }

  private val ot20 =
    """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
      |g AS (SELECT doc_id,
      |    unnest(list_distinct(list_transform(generate_series(1, len(toks)-7),
      |      i -> md5(toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '
      |        ||toks[i+4]||' '||toks[i+5]||' '||toks[i+6]||' '||toks[i+7])))) h
      |  FROM t WHERE len(toks) >= 8),
      |f AS (SELECT h, min(doc_id) first_doc FROM g GROUP BY h),
      |p AS (SELECT g.doc_id, count(*)::DOUBLE n_g,
      |    sum(CASE WHEN f.first_doc = g.doc_id THEN 1.0 ELSE 0.0 END) n_novel
      |  FROM g JOIN f ON g.h = f.h GROUP BY g.doc_id)
      |SELECT least(floor(n_novel/n_g*10), 9)::BIGINT AS decile,
      |  count(*) AS n_docs, ROUND(avg(n_novel/n_g), 4) AS avg_novelty
      |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  /** T21 — Unicode HOMOGLYPH detection + scrub (the confusable attack:
    * Cyrillic а/е/о visually identical to Latin a/e/o poison dedup
    * keys, vocabulary counts and denylist matches — t09 literal
    * matches miss them by construction). The corpus is ASCII, so the
    * query stages its own dirty estate deterministically (every 7th
    * doc gets the Latin→Cyrillic swap), then detects via the
    * `translate`-delete length delta and scrubs with the inverse
    * `translate` — all codegen'd string builtins, one narrow pass, one
    * single-row aggregate; `n_restored == n_docs` is the in-query
    * proof the scrub is lossless. At 100 TB the same pass extends to
    * the full confusables table as a longer translate alphabet —
    * per-row cost, no joins, no shuffle beyond the census row. */
  private def t21(s: SparkSession, d: String): DataFrame = {
    val cyr = "аео" // а е о
    documents(s, d)
      .select(col("doc_id"), col("text"),
        when(col("doc_id") % 7 === 0, translate(col("text"), "aeo", cyr))
          .otherwise(col("text")).as("dirty"))
      .select(col("text"),
        (length(col("dirty")) - length(translate(col("dirty"), cyr, ""))).as("n_conf"),
        translate(col("dirty"), cyr, "aeo").as("clean"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_conf") > 0, 1L).otherwise(0L)).as("n_flagged"),
        max(col("n_conf")).cast("long").as("max_confusables"),
        sum(when(col("clean") === col("text"), 1L).otherwise(0L)).as("n_restored"))
  }

  private val ot21 =
    """WITH d AS (SELECT doc_id, text,
      |    CASE WHEN doc_id % 7 = 0 THEN translate(text, 'aeo', 'аео')
      |         ELSE text END dirty FROM documents),
      |m AS (SELECT text,
      |    length(dirty) - length(translate(dirty, 'аео', '')) n_conf,
      |    translate(dirty, 'аео', 'aeo') clean FROM d)
      |SELECT count(*) AS n_docs,
      |  sum(CASE WHEN n_conf > 0 THEN 1 ELSE 0 END)::BIGINT AS n_flagged,
      |  max(n_conf)::BIGINT AS max_confusables,
      |  sum(CASE WHEN clean = text THEN 1 ELSE 0 END)::BIGINT AS n_restored
      |FROM m""".stripMargin

  /** T25 — BM25 RANKED RETRIEVAL (Robertson–Spärck Jones, the public
    * Okapi BM25 with k1=1.2, b=0.75): the corpus statistics (tf, df,
    * doc length, avgdl) built in ONE tokenize pass, then the 5
    * mid-frequency terms ranked 6–10 by document frequency taken as
    * the standing query (deterministic — the df head is ubiquitous
    * filler, ranks 6–10 are discriminative), and every document scored
    * by Σ_t idf(t)·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)). Reference has
    * no retrieval; this is the t06 tf-idf family completed into the
    * ranking function real curation/search stacks run. Shuffle
    * inventory at 100 TB: the (doc,term) tf aggregate (map-side
    * combined, corpus-bounded), the vocab-sized df aggregate, the
    * 5-row query set and 1-row N/avgdl as broadcasts, the dl join on
    * doc_id (both sides already keyed by doc_id), and a TakeOrdered
    * top-20 — no vocab-sized side ever crosses the driver. The rank
    * 6–10 selection is limit(10)-then-reversed-limit(5): two
    * TakeOrdereds over the df aggregate, no single-partition window
    * at any width. Constants are spelled as the SAME literals on both
    * engines (2.2, 1.2, 0.25, 0.75 — no k1+1 constant-fold whose
    * rounding could diverge); the per-doc score is rounded to 4dp and
    * the ordering key IS the rounded score, so ulp-level ln/sum-order
    * differences cannot reorder the top-k. */
  private def t25(s: SparkSession, d: String): DataFrame = {
    val tok = documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    // One corpus pass: tf is the root aggregate; df, dl, avgdl and the
    // query set all derive from it (the t06 checkpoint discipline).
    val tf = tok.groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf")).localCheckpoint()
    val dl = tf.groupBy("doc_id").agg(sum("tf").cast("double").as("dl"))
    val avgdl = dl.agg(avg("dl").as("avgdl"))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nd = documents(s, d).agg(count(lit(1)).cast("double").as("n"))
    // ranks 6..10 by (df desc, term): top-10 then the reversed bottom-5
    val qterms = dft.orderBy(col("df").desc, col("term")).limit(10)
      .orderBy(col("df").asc, col("term").desc).limit(5)
    val idf = log(lit(1.0) +
      (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val ts = idf * (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    tf.join(broadcast(qterms), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(avgdl))
      .crossJoin(broadcast(nd))
      .select(col("doc_id"), ts.as("ts"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_qterms"), oround(sum("ts"), 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)
  }

  private val ot25 =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
      |dl AS (SELECT doc_id, sum(tf)::DOUBLE AS dl FROM tf GROUP BY doc_id),
      |ad AS (SELECT avg(dl) AS avgdl FROM dl),
      |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |nd AS (SELECT count(*)::DOUBLE AS n FROM documents),
      |q AS (SELECT term, df FROM dft
      |      QUALIFY row_number() OVER (ORDER BY df DESC, term) BETWEEN 6 AND 10),
      |sc AS (SELECT tf.doc_id,
      |    ln(1.0 + (nd.n - q.df + 0.5) / (q.df + 0.5)) * (tf.tf * 2.2) /
      |      (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / ad.avgdl)) AS ts
      |  FROM tf JOIN q ON tf.term = q.term
      |  JOIN dl ON tf.doc_id = dl.doc_id, ad, nd)
      |SELECT doc_id, count(*) AS n_qterms, ROUND(sum(ts), 4) AS bm25
      |FROM sc GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin

  /** T26 — DSIR-style IMPORTANCE WEIGHTS (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling" — the
    * public hashed-n-gram importance-sampling recipe, spelled here
    * over exact unigrams since the synthetic vocab is small; at web
    * scale the ONLY change is `term` → `xxhash64(term) % 10⁴`, which
    * BOUNDS the feature table at 10⁴ rows instead of vocab-sized —
    * same plan, stronger guarantee. No longer just a claim: both halves are
    * MEASURED on a staged 47.5k-term corpus — feature table 47,500 → 9,919
    * rows, plan node-for-node equal, weight correlation 0.91 at 4.75:1
    * collision load (0.98 at 1.4:1); the receipt's caveat is that a literal
    * top-k cut over near-tied weights IS collision-sensitive — hashing suits
    * DSIR's soft resampling, not hard ranking). Target domain = the corpus'
    * majority language (deterministic: doc-count desc, lang asc);
    * per-document weight = mean over tokens of ln p̂_target(tok) − ln
    * p̂_corpus(tok), both Laplace-smoothed over the shared vocabulary.
    * Published: the top-30 OUT-OF-DOMAIN docs by weight — "which docs outside
    * the target stratum look most like it", exactly the resampling key DSIR
    * ranks on. Both unigram tables come from ONE aggregate (c_all and the
    * lang-gated c_t in the same groupBy — no second corpus pass); totals and
    * |V| are a 1-row broadcast; the scoring join keys on term (vocab-sized
    * side left to AQE, never driver-forced, the t07 discipline); top-30 is a
    * TakeOrdered ordered by the ROUNDED weight so cross-engine ulp noise
    * cannot reorder it. */
  private def t26(s: SparkSession, d: String): DataFrame = {
    val tgt = documents(s, d).groupBy("lang").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("lang")).limit(1)
      .select(col("lang").as("tlang"))
    val tok = documents(s, d)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("term"))
    val tc = tok.crossJoin(broadcast(tgt))
      .groupBy("term")
      .agg(
        count(lit(1)).as("c_all"),
        sum(when(col("lang") === col("tlang"), 1L).otherwise(0L)).as("c_t"))
      .localCheckpoint()
    val tot = tc.agg(
      sum("c_all").cast("double").as("tot_all"),
      sum("c_t").cast("double").as("tot_t"),
      count(lit(1)).cast("double").as("v"))
    val lr = log((col("c_t") + lit(1.0)) / (col("tot_t") + col("v"))) -
      log((col("c_all") + lit(1.0)) / (col("tot_all") + col("v")))
    tok.join(tc, Seq("term"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("lang"), lr.as("lr"))
      .groupBy("doc_id", "lang")
      .agg(oround(avg("lr"), 4).as("dsir"))
      .crossJoin(broadcast(tgt))
      .filter(col("lang") =!= col("tlang"))
      .select("doc_id", "lang", "dsir")
      .orderBy(col("dsir").desc, col("doc_id"))
      .limit(30)
  }

  private val ot26 =
    """WITH tgt AS (SELECT lang AS tlang FROM documents
      |      GROUP BY lang ORDER BY count(*) DESC, lang LIMIT 1),
      |tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term FROM documents),
      |tc AS (SELECT term, count(*) AS c_all,
      |    sum(CASE WHEN lang = (SELECT tlang FROM tgt) THEN 1 ELSE 0 END) AS c_t
      |  FROM tok GROUP BY term),
      |tot AS (SELECT sum(c_all)::DOUBLE AS tot_all, sum(c_t)::DOUBLE AS tot_t,
      |    count(*)::DOUBLE AS v FROM tc),
      |sc AS (SELECT tok.doc_id, tok.lang,
      |    ln((tc.c_t + 1.0) / (tot.tot_t + tot.v)) -
      |      ln((tc.c_all + 1.0) / (tot.tot_all + tot.v)) AS lr
      |  FROM tok JOIN tc ON tok.term = tc.term, tot)
      |SELECT doc_id, lang, ROUND(avg(lr), 4) AS dsir
      |FROM sc WHERE lang <> (SELECT tlang FROM tgt)
      |GROUP BY doc_id, lang ORDER BY dsir DESC, doc_id LIMIT 30""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("t01_lang_stats", t01, Some(ot01)),
    QueryDef("t02_quality_score", t02, Some(ot02)),
    QueryDef("t03_lang_id", t03, Some(ot03)),
    QueryDef("t04_token_stats", t04, Some(ot04)),
    QueryDef("t05_winnow_fingerprints", t05, Some(ot05)),
    QueryDef("t06_tfidf_top_terms", t06, Some(ot06)),
    QueryDef("t07_bigram_lm_score", t07, Some(ot07)),
    QueryDef("t08_repetition_ratio", t08, Some(ot08)),
    QueryDef("t09_denylist_scrub", t09, Some(ot09)),
    QueryDef("t10_vocab_coverage", t10, Some(ot10)),
    QueryDef("t11_quality_classifier", t11, Some(ot11)),
    QueryDef("t12_bpe_pair_step", t12, Some(ot12)),
    QueryDef("t13_char_entropy", t13, Some(ot13)),
    QueryDef("t14_nfc_normalize", t14, Some(ot14)),
    QueryDef("t15_heavy_hitters", t15, Some(ot15)),
    QueryDef("t16_pii_scrub", t16, Some(ot16)),
    QueryDef("t17_script_mix", t17, Some(ot17)),
    QueryDef("t18_zipf_fit", t18, Some(ot18)),
    QueryDef("t19_pmi_collocations", t19, Some(ot19)),
    QueryDef("t20_novelty_score", t20, Some(ot20)),
    QueryDef("t21_homoglyph_scrub", t21, Some(ot21)),
    QueryDef("t22_threshold_curve", t22, Some(ot22)),
    QueryDef("t23_bpe_training", t23, Some(ot23)),
    QueryDef("t24_bpe_encode", t24, Some(ot24)),
    QueryDef("t25_bm25", t25, Some(ot25)),
    QueryDef("t26_dsir_weights", t26, Some(ot26)))

  /** T24 — BPE ENCODE: the other half of the tokenizer loop. After
    * [[bpeTrain]]'s 5 merge rounds, each distinct word's final
    * segmentation IS its encoding under the learned rules — so the
    * encoder is the final vocabulary state read off directly, no
    * per-document re-segmentation pass (the word-frequency-dictionary
    * trick, applied in reverse). The published result is the
    * tokenizer's FERTILITY HISTOGRAM — symbols-per-word against
    * distinct words, corpus occurrences and mean word length — the
    * table a tokenizer evaluation reads to see where the merge budget
    * went (1-symbol rows = fully merged words; long tails = rare words
    * the 5 merges never touched). At 100 TB the encode stage stays
    * |vocab|-sized: corpus cost was paid once in the training pass's
    * token fold. */
  private def t24(s: SparkSession, d: String): DataFrame =
    bpeTrain(s, d)._2
      .select(
        size(split(col("sym"), "~")).cast("long").as("n_syms"),
        col("cnt"),
        length(call_function("replace", col("sym"), lit("~"), lit("")))
          .cast("long").as("wlen"))
      .groupBy("n_syms")
      .agg(
        count(lit(1)).as("n_distinct_words"),
        sum("cnt").as("n_occurrences"),
        oround(avg("wlen"), 4).as("avg_word_len"))
      .orderBy("n_syms")

  // lazy: declared below defs (the d15 lesson); reuses ot23's CTE chain
  private lazy val ot24 =
    s"""$ot23Ctes
      |SELECT len(string_split(sym, '~'))::BIGINT AS n_syms,
      |  count(*) AS n_distinct_words,
      |  sum(cnt)::BIGINT AS n_occurrences,
      |  ROUND(avg(length(replace(sym, '~', ''))), 4) AS avg_word_len
      |FROM v5 GROUP BY 1 ORDER BY 1""".stripMargin

  /** T23 — ITERATED BPE training: t12 is ONE pair-count step; this runs
    * the full tokenizer-training loop — 5 merge rounds, each counting
    * adjacent-symbol pairs over the CURRENT segmentation, merging the
    * argmax pair everywhere (greedy left-to-right, ties broken
    * count-desc then pair-asc), and emitting the learned merge table —
    * the artifact a BPE tokenizer ships.
    *
    * The classic scaling trick makes the loop cheap: BPE statistics are
    * a function of the WORD-FREQUENCY DICTIONARY, not the corpus — one
    * corpus pass folds tokens to (word, count) (map-side combined; the
    * vocabulary, not the corpus, is the state), and every round after
    * that is one |vocab|-sized pair aggregate + a 1-ROW broadcast
    * crossJoin applying the argmax merge via a left-to-right FOLD over
    * the symbol list (the separator is outside the corpus alphabet;
    * the fold compares whole symbols, so a multi-char-symbol boundary
    * can never be matched across — see the merge-step comment — and
    * the fold's scan order IS greedy BPE merging, identically in both
    * engines). Per-round
    * `localCheckpoint` pins each vocab generation — without it round
    * r's lineage re-executes every earlier round once per consumer
    * (the g01 checkpointed-iteration discipline). Segmentation strings
    * stay distinct across merges (a symbol string encodes the full
    * character sequence), so no re-aggregation is needed between
    * rounds. At 100 TB: the corpus pass is the only corpus-sized
    * stage; rounds cost |distinct words|, millions of rows, one
    * shuffle each. The DuckDB oracle unrolls the same 5 rounds as
    * CTE families over the identical replace/argmax rules. */
  /** The shared 5-round BPE training loop (see [[t23]]'s scaladoc for
    * the design): returns the learned merge table rows (one 1-row
    * checkpointed frame per round) and the FINAL vocabulary state —
    * each distinct word's '~'-joined segmentation after all merges,
    * with its corpus frequency. t23 publishes the merges; t24 reads
    * the final state as the ENCODER (a word's segmentation after
    * training IS its BPE encoding under the learned rules). */
  private def bpeTrain(
      s: SparkSession, d: String): (Seq[DataFrame], DataFrame) = {
    val sep = "~" // outside the corpus alphabet (a–y + space)
    val init = graft.Tables.rebalance(s, documents(s, d))
      .select(explode(TextFns.tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(array_join(
        transform(sequence(lit(1), length(col("tok"))),
          i => col("tok").substr(i, lit(1))), sep).as("sym"))
      .groupBy("sym").agg(count(lit(1)).as("cnt"))
    var vocab = init.localCheckpoint()
    val merges = (1 to 5).map { r =>
      val pairs = vocab
        .select(col("cnt"), split(col("sym"), sep).as("ss"))
        .filter(size(col("ss")) >= 2)
        .select(col("cnt"),
          explode(transform(sequence(lit(1), size(col("ss")) - 1),
            i => struct(
              element_at(col("ss"), i).as("a"),
              element_at(col("ss"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("cnt").as("n"))
      val top = pairs
        .orderBy(col("n").desc, col("a"), col("b")).limit(1)
        .select(lit(r.toLong).as("step"),
          col("a").as("merge_a"), col("b").as("merge_b"), col("n"))
        .localCheckpoint()
      // Greedy left-to-right non-overlapping merge as a FOLD over the
      // symbol list, NOT a substring replace on the '~'-joined string:
      // once symbols are multi-char (round 2+) an unanchored
      // replace(sym, a~b, ab) can match ACROSS symbol boundaries —
      // [ab, c] stored as 'ab~c' contains 'b~c', so merging (b, c)
      // would corrupt it to the single symbol 'abc' (a bug the oracle once
      // shared, so the cross-engine check couldn't see it). The fold's
      // accumulator is the rebuilt '~'-joined string; its last symbol equals
      // `a` iff acc IS a or acc ENDS WITH '~'+a (symbols never contain '~',
      // so the separator anchors the boundary), and a just-merged trailing
      // a+b can never re-match as `a` (that would need b = ''), so the fold
      // is exactly the greedy scan: merge consumes both symbols, the next
      // comparison starts after them.
      vocab = vocab.crossJoin(broadcast(top))
        .select(
          aggregate(
            slice(split(col("sym"), sep), lit(2),
              size(split(col("sym"), sep)) - 1),
            element_at(split(col("sym"), sep), 1),
            (acc, x) => when(
              x === col("merge_b") &&
                (acc === col("merge_a") ||
                  acc.endsWith(concat(lit(sep), col("merge_a")))),
              concat(acc, x)
            ).otherwise(concat(acc, lit(sep), x))).as("sym"),
          col("cnt"))
        .localCheckpoint()
      top
    }
    (merges, vocab)
  }

  private def t23(s: SparkSession, d: String): DataFrame =
    bpeTrain(s, d)._1.reduce(_ unionAll _).orderBy("step")

  // lazy: declared below defs — the d15/ot22 object-init-order lesson.
  // The WITH chain (tok fold → v0 char vocab → 5 unrolled merge-round
  // CTE families) is shared verbatim by ot23 and ot24 — one training
  // definition, two readings, exactly like the Spark side's bpeTrain.
  // Every CTE is MATERIALIZED (DuckDB-only syntax — these strings run
  // only in the oracle): each v_r references m_r three times and p_r
  // references v_{r-1}, so DuckDB's default inlining expands the
  // 5-round chain exponentially — ot24's v5 reading measured 11+ min
  // of CPU before materialization, milliseconds after. ot23 only read
  // the m_r heads and dodged the worst of it by luck, not design.
  private lazy val ot23Ctes = {
    def round(r: Int): String = {
      val pv = s"v${r - 1}"
      s"""p$r AS MATERIALIZED (SELECT s[i] a, s[i+1] b, sum(cnt) n
        |  FROM (SELECT string_split(sym, '~') s, cnt FROM $pv) t$r,
        |    LATERAL (SELECT unnest(generate_series(1, len(s) - 1)) i)
        |  WHERE len(s) >= 2 GROUP BY 1, 2),
        |m$r AS MATERIALIZED (SELECT $r::BIGINT AS step, a AS merge_a, b AS merge_b,
        |    n::BIGINT AS n
        |  FROM p$r ORDER BY n DESC, a, b LIMIT 1),
        |v$r AS MATERIALIZED (SELECT list_reduce(string_split(sym, '~'),
        |    (acc, x) -> CASE WHEN x = merge_b
        |        AND (acc = merge_a OR ends_with(acc, '~' || merge_a))
        |      THEN acc || x ELSE acc || '~' || x END) sym, cnt
        |  FROM $pv, m$r)""".stripMargin
    }
    s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) tok FROM documents),
      |v0 AS MATERIALIZED (SELECT array_to_string(list_transform(generate_series(1, length(tok)),
      |    i -> substr(tok, i, 1)), '~') sym, count(*) cnt
      |  FROM tok WHERE length(tok) > 0 GROUP BY 1),
      |${(1 to 5).map(round).mkString(",\n")}""".stripMargin
  }

  private lazy val ot23 =
    s"""$ot23Ctes
      |SELECT step, merge_a, merge_b, n FROM (
      |  SELECT * FROM m1 UNION ALL SELECT * FROM m2 UNION ALL SELECT * FROM m3
      |  UNION ALL SELECT * FROM m4 UNION ALL SELECT * FROM m5) u
      |ORDER BY step""".stripMargin

  /** T22 — the quality-classifier THRESHOLD CURVE: t11's logistic
    * score swept over keep thresholds τ ∈ {0.3, 0.5, 0.7} in one
    * corpus pass — per τ the keep rate, the TOKEN yield of the kept
    * set (what a training run actually buys) and the kept set's mean
    * score. The third tuning-curve query (v23 sweeps ANN probe width,
    * d18 sweeps LSH banding, t22 sweeps the filter operating point) —
    * the curve a curation pipeline reads to trade corpus size against
    * quality before a full filtering run. Shape: tokenize+score ONCE
    * (the expensive pass), explode only the two-scalar (n_tok, score)
    * projection by the three τ literals, one 3-group aggregate —
    * corpus-pass-bound at any scale, exactly like t11. */
  private def t22(s: SparkSession, d: String): DataFrame = {
    val kept = col("score") >= col("tau")
    graft.Tables.rebalance(s, documents(s, d))
      .select(TextFns.tokens(col("text")).as("toks"))
      .select(size(col("toks")).cast("long").as("n_tok"),
        TextFns.qualityOf(col("toks")).as("quality"))
      .select(col("n_tok"), qscore.as("score"))
      .select(col("n_tok"), col("score"),
        explode(array(lit(0.3), lit(0.5), lit(0.7))).as("tau"))
      .groupBy("tau")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
        oround(sum(when(kept, 1L).otherwise(0L)) / count(lit(1)), 4)
          .as("keep_rate"),
        sum(when(kept, col("n_tok")).otherwise(0L)).as("kept_tokens"),
        oround(avg(when(kept, col("score"))), 4).as("kept_avg_score"))
      .orderBy("tau")
  }

  /** Oracle twin of [[t22]] — ot11's feature/score CTEs, the same τ
    * literals unnested, FILTER-clause aggregates. */
  // lazy: declared below defs — the d15/ov24 object-init-order lesson
  private lazy val ot22 =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') toks FROM documents),
      |f AS (SELECT doc_id,
      |    len(toks)::BIGINT AS n_tok,
      |    len(toks)::DOUBLE AS n_tokd,
      |    len(list_filter(toks, w -> w IN ('the','a','and','of')))::DOUBLE AS n_stop,
      |    len(list_distinct(toks))::DOUBLE AS n_dist
      |  FROM t),
      |q AS (SELECT n_tok,
      |    0.4*least(n_tokd/60.0, 1.0) + 0.3*(1.0 - n_stop/n_tokd) + 0.3*(n_dist/n_tokd) AS quality
      |  FROM f),
      |sc AS (SELECT n_tok, 1.0/(1.0+exp(-(8.0*quality - 4.8))) AS score FROM q),
      |x AS (SELECT sc.*, tau FROM sc, (SELECT unnest([0.3, 0.5, 0.7]) tau) tt)
      |SELECT tau, count(*) AS n_docs,
      |  count(*) FILTER (score >= tau) AS n_kept,
      |  ROUND(count(*) FILTER (score >= tau)::DOUBLE / count(*), 4) AS keep_rate,
      |  COALESCE(sum(n_tok) FILTER (score >= tau), 0)::BIGINT AS kept_tokens,
      |  ROUND(avg(score) FILTER (score >= tau), 4) AS kept_avg_score
      |FROM x GROUP BY tau ORDER BY tau""".stripMargin
}
