package graft

import java.nio.file.{Files, Paths}
import java.util.regex.Pattern

/** The test session is the bench's session: every fixed setting of
  * [[GraftSession]] is live on it, and the perfbench harness (which builds
  * its own session) still carries each of them.
  */
class GraftSessionSpec extends SparkSpec {

  test("the shared test session carries every GraftSession setting") {
    GraftSession.Settings.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
    assert(GraftSession(4) eq spark)
  }

  test("the perfbench harness session sets every GraftSession setting") {
    val harness = new String(Files.readAllBytes(Paths.get("perfbench/harness/Harness.scala")), "UTF-8")
    GraftSession.Settings.foreach { case (k, v) =>
      val call = s"""\\.config\\(\\s*${Pattern.quote("\"" + k + "\"")}\\s*,\\s*${Pattern.quote("\"" + v + "\"")}\\s*\\)"""
      assert(call.r.findFirstIn(harness).nonEmpty, s"$k -> $v")
    }
  }
}
