package perfbench

import java.util.Locale

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class RunnerSpec extends AnyFunSuite {

  test("JSON numbers stay parseable under a decimal-comma default locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      assert(String.format("%.1f", Double.box(1.5)) == "1,5") // the hazard
      val text = Main.toJson(Map("setup_s" -> Seq(1.5, 0.25), "n" -> 3L, "ok" -> true,
        "name" -> "a\"b", "error" -> None, "small" -> 1.0e-7))
      val node = new ObjectMapper().readTree(text)
      assert(node.get("setup_s").get(0).asDouble == 1.5)
      assert(node.get("setup_s").get(1).asDouble == 0.25)
      assert(node.get("n").asLong == 3L)
      assert(node.get("name").asText == "a\"b")
      assert(node.get("error").isNull)
      assert(node.get("small").asDouble == 1.0e-7)
    } finally Locale.setDefault(saved)
  }

  private val files = (0 until 32).map(i => ShareHttp.FileEntry(s"part-$i", 1000L, 100L,
    i * 1000L, i * 1000L + 999L, Map.empty))

  test("the same seed gives the same op parameters, another seed others") {
    assert(ShareHttp.plan(files, 7L) == ShareHttp.plan(files, 7L))
    assert(ShareHttp.plan(files, 7L) != ShareHttp.plan(files, 8L))
  }

  test("every pruned range lies within at most two adjacent files") {
    (1L to 50L).foreach { seed =>
      ShareHttp.plan(files, seed).collect { case p: ShareHttp.Pruned => p }.foreach { p =>
        assert(p.lo <= p.hi)
        val hit = files.filter(f => f.maxKey >= p.lo && f.minKey <= p.hi)
        assert(hit.size >= 1 && hit.size <= 2, s"seed $seed: $p hits ${hit.size} files")
      }
    }
  }

  test("the same seed gives the same op order in every pass") {
    val ops = (0 until 20).map(i => Op(s"op$i", "k", _ => null, None))
    assert(Main.passOrder(ops, 3L, 0) == Main.passOrder(ops, 3L, 0))
    assert(Main.passOrder(ops, 3L, 0) != Main.passOrder(ops, 3L, 1))
    assert(Main.passOrder(ops, 3L, 0).toSet == ops.toSet)
  }

  test("self time subtracts the union of child spans") {
    // op [0,100] ⊃ construct [0,40] ⊃ two overlapping planner spans
    val spans = Seq(("op", "op", 0L, 100L), ("queries", "construct", 0L, 40L),
      ("planner", "analysis", 5L, 20L), ("planner", "planning", 15L, 30L),
      ("exec", "execute", 40L, 100L), ("exec", "job", 50L, 90L))
    assert(Main.parentOf(spans, 2) == Some(1))
    assert(Main.parentOf(spans, 5) == Some(4))
    val self = Main.selfTimes(spans)
    assert(self("queries") == 15.0 / 1000) // 40 - |[5,30]|, in ms of µs spans
    assert(self("planner") == 30.0 / 1000)
    assert(self("exec") == (20.0 + 40.0) / 1000)
    assert(self("op") == 0.0)
  }
}
