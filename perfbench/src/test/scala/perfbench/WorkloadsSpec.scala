package perfbench

import org.scalatest.funsuite.AnyFunSuite

class WorkloadsSpec extends AnyFunSuite {

  private val items = (1 to 20).map(i => s"q$i")

  test("a seed fixes every pass order, and each pass is a permutation") {
    (0 until 5).foreach { p =>
      val a = Workloads.passOrder(items, 7L, p)
      assert(a == Workloads.passOrder(items, 7L, p))
      assert(a.sorted == items.sorted)
    }
  }

  test("passes and seeds get different orders") {
    assert(Workloads.passOrder(items, 7L, 1) != Workloads.passOrder(items, 7L, 2))
    assert(Workloads.passOrder(items, 7L, 1) != Workloads.passOrder(items, 8L, 1))
  }

  test("the registry workload names each real query once") {
    val all = Workloads.RegistryQueries
    assert(all.distinct.size == all.size)
    assert(all.forall(graft.SparkEntry.queries.contains))
  }

  test("a throwing query counts as failed and yields no digest") {
    val boom = Step("q_boom", "query", _ => throw new IllegalStateException("boom"))
    val out = Runner.execute(null, boom, Some("rows:0:0000000000000000"), new Clock)
    assert(!out.ok)
    assert(out.digest.isEmpty)
    assert(out.error.exists(_.contains("boom")))
  }
}
