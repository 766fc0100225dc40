package graft.queries

import org.apache.spark.{JobExecutionStatus, TaskContext}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** `inParallel` must not leak sibling jobs when its caller stops waiting:
  * an interrupted caller used to return through `pool.shutdown()` while the
  * siblings' Spark jobs kept running, holding executor slots for work whose
  * result nobody would read.
  */
class InParallelSpec extends AnyFunSuite with SparkFixture {

  test("an interrupted caller leaves no job of the call running") {
    val sc = spark.sparkContext
    val group = "inparallel-interrupt"
    // each sibling runs one job whose 2 tasks only end when the job is
    // cancelled (or after two minutes, far past the assertion below)
    val slow = () => spark.range(0, 2, 1, 2).foreachPartition { (_: Iterator[java.lang.Long]) =>
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (!TaskContext.get().isInterrupted() && System.nanoTime() < deadline) Thread.sleep(20)
    }
    val caller = new Thread(() => {
      sc.setJobGroup(group, "inParallel caller") // inherited by the sibling threads
      try FormatQueries.inParallel(slow, slow)
      catch { case _: InterruptedException => }
    })
    def jobs(status: JobExecutionStatus) =
      sc.statusTracker.getJobIdsForGroup(group).flatMap(sc.statusTracker.getJobInfo).count(_.status == status)
    def waitFor(what: String)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!cond && System.nanoTime() < deadline) Thread.sleep(50)
      assert(cond, what)
    }
    caller.start()
    waitFor("both sibling jobs start")(jobs(JobExecutionStatus.RUNNING) == 2)
    caller.interrupt()
    caller.join(30000)
    assert(!caller.isAlive, "inParallel did not return after the interrupt")
    // job status reaches the tracker through the listener bus: allow it a
    // moment, far less than the tasks' own two-minute cap
    waitFor("no job of the call is still running")(jobs(JobExecutionStatus.RUNNING) == 0)
  }
}
