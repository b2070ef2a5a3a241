package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.core.DriverJobs

/** The concurrency helper for driver-side Spark jobs, without Spark:
  * each thunk stands in for a fit whose thread blocks until its job
  * ends. */
class DriverJobsSpec extends AnyFunSuite {

  test("more blocking thunks than cores all run at once") {
    val n = 2 * Runtime.getRuntime.availableProcessors
    val arrived = new CountDownLatch(n)
    // each thunk returns whether all n were running together; on a pool
    // capped at the core count the first batch would wait out the timeout
    val together = (1 to n).map(_ => DriverJobs.onPool {
      arrived.countDown()
      arrived.await(20, TimeUnit.SECONDS)
    }).map(DriverJobs.join)
    assert(together.forall(identity), together)
  }
}
