package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for d15_source_overlap, independent of the
  * DuckDB oracle: the union-set MinHash signature must be EXACT at the
  * extremes — two sources with identical shingle unions share every
  * signature component (est = 1), and the exact-audit column must agree
  * with ground truth on identical (J = 1) and vocabulary-disjoint
  * (J = 0) source pairs. A disjoint pair's ESTIMATE may collide per
  * component (P ≈ 1/|union| per permutation), so it is bounded, not
  * pinned. */
class D15OverlapSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private def stage(): String = {
    val dir = SparkTestSession.tempDir("graft_d15").toString
    val latin = Seq(
      "alpha beta gamma delta epsilon zeta eta theta",
      "iota kappa lam mu nu xi omicron pi",
      "rho sigma tau upsilon phi chi psi omega")
    val nordic = Seq(
      "fjord saga rune skald berserk valkyrie mead longship",
      "thor odin loki freya heimdall balder tyr njord")
    val docs =
      latin.zipWithIndex.map { case (t, i) => (100L + i, t, "mirror_a") } ++
        latin.zipWithIndex.map { case (t, i) => (200L + i, t, "mirror_b") } ++
        nordic.zipWithIndex.map { case (t, i) => (300L + i, t, "other") }
    docs.toDF("doc_id", "text", "source")
      .selectExpr("doc_id", "text", "'en' AS lang", "source",
        "CAST(length(text) AS LONG) AS n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  test("identical unions estimate 1.0 exactly; disjoint vocab audits 0.0") {
    val rows = SparkEntry.queries("d15_source_overlap")(spark, stage())
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    assert(rows.size == 3, s"3 source pairs expected, got ${rows.keySet}")

    val (estMirror, jacMirror, _) = rows(("mirror_a", "mirror_b"))
    assert(estMirror == 1.0, "identical shingle unions share every component")
    assert(jacMirror == 1.0, "exact audit must report full overlap")

    Seq(("mirror_a", "other"), ("mirror_b", "other")).foreach { k =>
      val (est, jac, ni) = rows(k)
      assert(jac == 0.0 && ni == 0L, s"disjoint vocab must audit 0, got $k -> $jac")
      assert(est <= 0.25, s"disjoint estimate must stay near 0 (collisions only), got $est")
      // the two mirrors carry the SAME signature, so their estimates
      // against any third source are forced equal — a cheap functional
      // check that the sketch really is a function of the union set
      assert(rows(("mirror_a", "other"))._1 == rows(("mirror_b", "other"))._1)
    }
  }

  test("ubiquitous shingles: pattern-grouped audit stays exact at df = |sources|") {
    // every source carries the same hot sentence (source-df = |sources|,
    // the shape that made the old postings self-join quadratic — most
    // real shingles are near-ubiquitous across sources) plus partially
    // overlapping private vocabulary; the audited jaccard and n_inter
    // must equal ground truth computed directly over the shingle sets
    val hot = "common ground shared by every source in the corpus"
    val texts = Map(
      "s_a" -> Seq("apple banana cherry date elder fig", hot),
      "s_b" -> Seq("grape honey iris juniper kiwi lemon", hot),
      "s_c" -> Seq("mango nectar olive peach quince rose", hot,
        "grape honey iris juniper kiwi lemon"))
    val dir = SparkTestSession.tempDir("graft_d15u").toString
    texts.toSeq.sortBy(_._1).zipWithIndex
      .flatMap { case ((src, ts), si) =>
        ts.zipWithIndex.map { case (t, i) => (si * 100L + i, t, src) }
      }
      .toDF("doc_id", "text", "source")
      .selectExpr("doc_id", "text", "'en' AS lang", "source",
        "CAST(length(text) AS LONG) AS n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")

    def shingleSet(ts: Seq[String]): Set[String] =
      ts.flatMap(_.split(" ").sliding(2).map(_.mkString(" "))).toSet
    val sets = texts.map { case (src, ts) => src -> shingleSet(ts) }

    val rows = SparkEntry.queries("d15_source_overlap")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(3), r.getLong(4))).toMap
    assert(rows.size == 3)
    for {
      (sa, a) <- sets; (sb, b) <- sets if sa < sb
    } {
      val ni = (a intersect b).size.toLong
      val j = BigDecimal(ni.toDouble / (a union b).size)
        .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(rows((sa, sb)) == ((j, ni)),
        s"($sa,$sb): expected ($j,$ni), got ${rows((sa, sb))}")
    }
  }
}
