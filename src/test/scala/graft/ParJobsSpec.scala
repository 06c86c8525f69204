package graft

import graft.operators.ParJobs
import java.util.concurrent.{ExecutionException, TimeoutException}
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.duration.{Duration, DurationInt}

/** Specs for how [[ParJobs.run]]'s wait ends: the caller's timeout, a
  * fatal error in a thunk, and an interrupt of the caller. */
class ParJobsSpec extends AnyFunSuite with SparkTestBase {

  /** Run `body` on its own thread; fail instead of hanging the suite. */
  private def within[A](limit: Duration)(body: => A): A = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    Await.result(Future(body)(ExecutionContext.global), limit)
  }

  test("the caller's timeout ends the wait") {
    val t0 = System.nanoTime()
    intercept[TimeoutException] {
      ParJobs.run(spark, "spec timeout", 200.millis)(Seq(() => Thread.sleep(20000L)))
    }
    assert((System.nanoTime() - t0) / 1e9 < 10.0)
  }

  test("a fatal error in a thunk fails the call instead of leaving an infinite wait") {
    val e = within(60.seconds) {
      intercept[ExecutionException] {
        ParJobs.run(spark, "spec fatal", Duration.Inf)(Seq(
          () => throw new StackOverflowError("spec"), () => Thread.sleep(20000L)))
      }
    }
    assert(e.getCause.isInstanceOf[StackOverflowError])
  }

  test("an interrupted caller gets InterruptedException with its interrupt flag set") {
    val seen = new java.util.concurrent.atomic.AtomicReference[Option[Boolean]](None)
    val caller = new Thread(() =>
      try ParJobs.run(spark, "spec interrupt", Duration.Inf)(Seq(() => Thread.sleep(20000L)))
      catch { case _: InterruptedException => seen.set(Some(Thread.currentThread().isInterrupted)) })
    caller.start()
    Thread.sleep(300L)
    caller.interrupt()
    caller.join(30000L)
    assert(seen.get.contains(true), s"flag after the interrupt: ${seen.get}")
  }
}
