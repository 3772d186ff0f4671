package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The standing-artifact registry's key space and session lifetime.
  * Stops sessions, so the build runs this suite in its own JVM. */
class ArtifactsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-artifacts")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = session().stop()

  test("a frame held for a stopped session is evicted, and rebuilt " +
      "on the next session") {
    var builds = 0
    def frame(s: SparkSession) =
      Artifacts.frame(s, "spec.frame", "dir") {
        builds += 1
        s.range(3).toDF("id")
      }
    val a = session()
    assert(frame(a).count() == 3)
    assert(frame(a).count() == 3)
    assert(builds == 1)
    assert(Artifacts.held(a).contains("spec.frame@dir"))
    a.stop()
    val b = session()
    assert(!(b eq a))
    assert(frame(b).count() == 3)
    assert(builds == 2)
    assert(Artifacts.held(a).isEmpty, "the stopped session's entries " +
      "must be evicted")
    assert(Artifacts.held(b).contains("spec.frame@dir"))
  }

  test("collected rows are built once, and re-framed per session") {
    var builds = 0
    def rows(s: SparkSession) =
      Artifacts.collected(s, "spec.rows", "dir") {
        builds += 1
        Seq(s.range(4).toDF("id"), s.range(2).toDF("id"))
      }
    val a = session()
    val b = a.newSession()
    val fa = rows(a)
    val fb = rows(b)
    assert(builds == 1)
    assert(fa.head.sparkSession eq a)
    assert(fb.head.sparkSession eq b)
    assert(fb.map(_.collect().map(_.getLong(0)).toSeq) ==
      Seq(Seq(0L, 1L, 2L, 3L), Seq(0L, 1L)))
  }

  test("two artifacts over one dir under different names do not " +
      "collide") {
    val s = session()
    assert(Artifacts.perSession(s, "spec.a", "dir")("a") == "a")
    assert(Artifacts.perSession(s, "spec.b", "dir")("b") == "b")
    assert(Artifacts.value("spec.a", "dir")(1) == 1)
    assert(Artifacts.value("spec.b", "dir")(2) == 2)
  }
}
