package graft

import org.scalatest.funsuite.AnyFunSuite

/** The settings every main's session gets, read from the one map
  * ([[LocalRun.settings]]) without starting a session. */
class LocalRunSpec extends AnyFunSuite {

  test("one settings map: UTC, shuffle partitions = cpus, UI off") {
    for (cpus <- Seq("4", "32")) {
      val s = LocalRun.settings(cpus)
      // the oracle compare hashes timestamps rendered in UTC
      assert(s("spark.sql.session.timeZone") == "UTC")
      assert(s("spark.master") == s"local[$cpus]")
      assert(s("spark.sql.shuffle.partitions") == cpus)
      assert(s("spark.ui.enabled") == "false")
    }
  }
}
