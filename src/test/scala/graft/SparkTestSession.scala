package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (Engine semantics: UTC, AQE,
  * nanosAsLong), and the suites' temp dirs. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = Engine.builder("local[4]", 4)
      .config("spark.sql.warehouse.dir", tempDir("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val made = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    made.forEach { dir =>
      scala.util.Try {
        val walk = Files.walk(dir)
        try walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      }
      ()
    }))

  /** Delete `dir` and its contents when the test JVM exits. */
  def deleteAtExit(dir: Path): Unit = made.add(dir)

  /** A fresh temp dir, deleted with its contents when the test JVM
    * exits. */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    deleteAtExit(dir)
    dir
  }
}
