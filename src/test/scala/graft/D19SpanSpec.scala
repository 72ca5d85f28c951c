package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** d19 (exact-substring scrub) span semantics on a constructed corpus —
  * the boundary-straddling case d12's fixed segments structurally miss,
  * pinned by hand-computed spans. The query reads the documents table
  * of a staged directory, so the test stages its own tiny parquet. */
class D19SpanSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Stage docs as a documents.parquet under a temp dir. */
  private def stage(docs: Seq[(Long, String)]): String = {
    val dir = SparkTestSession.tempDir("d19spec").toString
    docs.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' as lang", "'s' as source",
        "length(text) as n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def runQuery(dir: String): Map[Long, (Long, Long, Long, String)] =
    SparkEntry.queries("d19_substring_scrub")(spark, dir)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  test("a copied run at an arbitrary offset is cut exactly, first occurrence kept") {
    // doc 1: 20 unique words; doc 2: 4 own words, then doc 1's tokens
    // 5..16 (a 12-token run), then 4 own words. The run sits at doc-2
    // offset 5 — nothing aligns to a fixed segment grid.
    val w = (1 to 20).map(i => s"w$i")
    val run = w.slice(4, 16) // tokens 5..16 of doc 1
    val d2 = (Seq("a1", "a2", "a3", "a4") ++ run ++ Seq("z1", "z2", "z3", "z4"))
    val dir = stage(Seq(1L -> w.mkString(" "), 2L -> d2.mkString(" ")))
    val out = runQuery(dir)
    // doc 1 is the canonical first occurrence everywhere: untouched,
    // so it does NOT appear in the output (no removals)
    assert(!out.contains(1L))
    // doc 2: redundant 8-gram starts are exactly positions 5..9 (the
    // starts fully inside the copied run: 5+7 <= 16); covered =
    // [5, 16] — the full run, nothing else. Straddling grams (mixing
    // a*/z* with run words) occur once and must not extend the span.
    val (nTok, nRem, nSpans, hash) = out(2L)
    assert(nTok == 20L)
    assert(nRem == 12L)
    assert(nSpans == 1L)
    assert(hash == md5((Seq("a1", "a2", "a3", "a4") ++
      Seq("z1", "z2", "z3", "z4")).mkString(" ")))
  }

  test("two separated copied runs in one doc merge to two spans") {
    val w = (1 to 40).map(i => s"u$i")
    // doc 2 copies u1..u8 at offset 1 and u21..u28 at offset 15,
    // with unique filler between and after
    val d2 = (w.slice(0, 8) ++ (1 to 6).map(i => s"f$i") ++
      w.slice(20, 28) ++ (1 to 5).map(i => s"g$i"))
    val dir = stage(Seq(1L -> w.mkString(" "), 2L -> d2.mkString(" ")))
    val out = runQuery(dir)
    val (nTok, nRem, nSpans, _) = out(2L)
    assert(nTok == 27L)
    assert(nRem == 16L) // two 8-token runs
    assert(nSpans == 2L)
  }

  test("a full template copy empties the copy and keeps the original") {
    val text = (1 to 30).map(i => s"t$i").mkString(" ")
    val dir = stage(Seq(1L -> text, 2L -> text, 3L -> text))
    val out = runQuery(dir)
    assert(!out.contains(1L)) // canonical first: untouched
    for (id <- Seq(2L, 3L)) {
      val (nTok, nRem, nSpans, hash) = out(id)
      assert(nTok == 30L && nRem == 30L && nSpans == 1L)
      assert(hash == md5("")) // fully scrubbed
    }
  }

  test("an in-doc repeat keeps its own first occurrence") {
    // one doc repeating its own 8-gram: positions 1..8 == 11..18
    val run = (1 to 8).map(i => s"r$i")
    val d = (run ++ Seq("x1", "x2") ++ run ++ Seq("x3")).mkString(" ")
    val dir = stage(Seq(1L -> d))
    val out = runQuery(dir)
    val (nTok, nRem, nSpans, hash) = out(1L)
    assert(nTok == 19L && nRem == 8L && nSpans == 1L)
    assert(hash == md5((run ++ Seq("x1", "x2", "x3")).mkString(" ")))
  }
}
