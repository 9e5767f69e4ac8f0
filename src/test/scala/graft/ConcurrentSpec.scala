package graft

import graft.operators.Concurrent
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

class ConcurrentSpec extends AnyFunSuite {

  test("parMap keeps input order") {
    assert(Concurrent.parMap(1 to 20)(_ * 2) == (1 to 20).map(_ * 2))
  }

  test("parMap rethrows a failing element's own exception and cancels the rest") {
    val call = Future(Concurrent.parMap(Seq(0, 1, 2)) { i =>
      if (i == 1) throw new IllegalStateException("boom")
      if (i == 2) Thread.sleep(600000)
      i
    })(scala.concurrent.ExecutionContext.global)
    // returns instead of waiting on the sleeping sibling
    val e = intercept[IllegalStateException](Await.result(call, 60.seconds))
    assert(e.getMessage == "boom")
  }
}
