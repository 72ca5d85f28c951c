package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Engine.widthFor]] / [[Engine.tuneForEstate]] — the SF-aware
  * shuffle-width policy (round-15 verdict task 4). The d02 sf100
  * receipt behind the rule: width 32 → 501.7 s, width 256 → 240.7 s,
  * same answer (BASELINE.md round-16 table). `widthFor` takes the core
  * count as a parameter (round-16 advisory: asserting against the
  * env-dependent default made the spec fail under SPARK_GRAFT_CPUS=4
  * and under very high core counts), so the expectations here are
  * exact for any environment. */
class EngineWidthSpec extends AnyFunSuite {
  private val MiB = 1L << 20

  test("small estates keep the core-count floor (sf≤10 unchanged)") {
    assert(Engine.widthFor(0L, 32) == 32)
    // sf0.1 ≈ 23 MiB, sf10 ≈ 2.3 GiB — both under 32 × 96 MiB
    assert(Engine.widthFor(23 * MiB, 32) == 32)
    assert(Engine.widthFor(2355 * MiB, 32) == 32)
    // a 4-core Verify session floors at 4, not the bench's 32
    assert(Engine.widthFor(23 * MiB, 4) == 4)
    assert(Engine.widthFor(2355 * MiB, 4) == 25) // ceil(2355/96)
  }

  test("the third decade scales: 22.9 GiB (sf100) → ceil(/96 MiB) = 245") {
    assert(Engine.widthFor(23450 * MiB, 32) == 245)
    assert(Engine.widthFor(23450 * MiB, 4) == 245)
    // a hypothetical 512-core box floors above the data width
    assert(Engine.widthFor(23450 * MiB, 512) == 512)
  }

  test("ceil semantics and the 4096 one-box cap") {
    assert(Engine.widthFor(96 * MiB * 400L, 32) == 400)
    assert(Engine.widthFor(96 * MiB * 400L + 1, 32) == 401)
    assert(Engine.widthFor(Long.MaxValue / 4, 32) == 4096)
  }

  test("tuneForEstate sets the session conf and returns the width") {
    val s = SparkTestSession.spark
    val before = s.conf.get("spark.sql.shuffle.partitions")
    try {
      // a dir that doesn't exist → estate 0 → the SESSION's core floor
      val w = Engine.tuneForEstate(s, "/nonexistent-estate-dir")
      assert(w == s.sparkContext.defaultParallelism)
      assert(s.conf.get("spark.sql.shuffle.partitions") == w.toString)
    } finally s.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("estate width counts parquet bytes only (sidecars excluded)") {
    // a synthetic estate dir: one 200 MiB parquet + a 900 MiB log —
    // width must price the parquet alone (ceil(200/96)=3, floored)
    val dir = SparkTestSession.tempDir("estate").toFile
    try {
      def write(name: String, mib: Int): Unit = {
        val f = new java.io.RandomAccessFile(
          new java.io.File(dir, name), "rw")
        try f.setLength(mib.toLong << 20) finally f.close()
      }
      write("documents.parquet", 200)
      write("bench_dump.json", 900)
      val s = SparkTestSession.spark
      val before = s.conf.get("spark.sql.shuffle.partitions")
      try {
        val w = Engine.tuneForEstate(s, dir.getAbsolutePath)
        assert(w == math.max(s.sparkContext.defaultParallelism, 3))
      } finally s.conf.set("spark.sql.shuffle.partitions", before)
    } finally {
      dir.listFiles().foreach(_.delete())
      dir.delete()
    }
  }
}
