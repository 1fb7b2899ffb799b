package graft.perfbench

import java.time.Instant

import org.scalatest.funsuite.AnyFunSuite

class HarnessSuite extends AnyFunSuite {

  test("the same seed yields the same statements, query order, batches and read keys") {
    def inputs(seed: Long) = (
      Inputs.wireStatements(seed).take(200).toList,
      (0 to 3).map(p => Inputs.batchOrder(seed, p, Metrics.BatchQueries)),
      Inputs.firstBatch(seed, 20, 12),
      Inputs.readKeys(seed, 2, (0L until 500L).toIndexedSeq,
        Instant.parse("2024-01-03T00:00:00Z"), Instant.parse("2024-01-09T00:00:00Z"), 4))
    assert(inputs(7) == inputs(7))
    assert(inputs(7) != inputs(8))
  }

  test("the wire mix repeats shapes, never a statement, and binds some params") {
    val stmts = Inputs.wireStatements(3).take(40 * Inputs.RoundLength).toList
    assert(stmts.map(_.shape).toSet == Inputs.ShapeNames.toSet)
    // every round sends each (shape, window length) once
    val mix = stmts.take(Inputs.RoundLength).map(st => (st.shape, st.days)).toSet
    assert(mix.size == Inputs.RoundLength)
    stmts.grouped(Inputs.RoundLength).foreach(round =>
      assert(round.map(st => (st.shape, st.days)).toSet == mix))
    assert(stmts.map(_.key).distinct.length == stmts.length)
    assert(stmts.exists(_.params.nonEmpty) && stmts.exists(_.params.isEmpty))
  }

  test("read keys are hour-aligned 24 h windows inside the ingested span") {
    val from = Instant.parse("2024-01-03T00:17:00Z")
    val to = Instant.parse("2024-01-05T09:00:00Z")
    val keys = Inputs.readKeys(11, 0, IndexedSeq(5L, 6L), from, to, 50)
    keys.foreach { k =>
      assert(k.begin.getEpochSecond % 3600 == 0)
      assert(k.end.getEpochSecond - k.begin.getEpochSecond == 24 * 3600)
      assert(!k.begin.isBefore(from) && !k.end.isAfter(to))
      assert(Set(5L, 6L).contains(k.userId))
    }
    assert(keys.map(_.begin).distinct.length > 5)
  }

  test("the tail rule picks the highest percentile with at least 10 samples beyond it") {
    def xs(n: Int) = (1 to n).map(_.toDouble)
    assert(Stats.tail(xs(5)).isEmpty)
    assert(Stats.tail(xs(19)).isEmpty)
    assert(Stats.tail(xs(20)) == Some((50.0, 10.0)))
    assert(Stats.tail(xs(110)) == Some((90.0, 99.0)))
    assert(Stats.tail(xs(199)).map(_._1) == Some(90.0))
    assert(Stats.tail(xs(200)).map(_._1) == Some(95.0))
    assert(Stats.tail(xs(1010)) == Some((99.0, 1000.0)))
    // exactly 10 samples lie beyond the chosen rank
    val s = xs(200)
    val (_, v) = Stats.tail(s).get
    assert(s.count(_ > v) == 10)
  }

  test("an injected failing operation raises error_frac and is not timed") {
    val log = new OpLog
    log.run("ok")(Thread.sleep(2))
    log.run("boom")(throw new IllegalStateException("injected"))
    val Some((id, _)) = log.run("wrong")(42)
    log.check(id, ok = false, "wrong output")
    assert(log.attempted == 3 && log.failed == 2)
    assert(Outcome(Map.empty, Map.empty, Nil, Seq(log), log.latencies).errorFrac == 2.0 / 3)
    assert(log.latencies.length == 1 && log.latencies.head >= 2.0)
    assert(log.failureMessages.exists(_.contains("injected")))
  }

  test("self times of one operation add up to its root span") {
    val t = new Tracer(enabled = true)
    val op = t.newOp()
    val root = t.record(op, 0, "operators", "q", 0, 1000)
    val exec = t.record(op, root, "unattributed", "exec", 100, 900)
    // two concurrent jobs are attached as their union
    Trace.merge(Seq((400L, 700L), (200L, 500L), (800L, 850L))).foreach { case (s, e) =>
      t.record(op, exec, "spark", "job", s, e)
    }
    t.record(op, exec, "codegen", "compile", 0, 50, durationOnly = true)
    t.record(op, root, "catalyst", "analysis", 0, 100)
    val self = Trace.selfTimes(t.all)
    assert(self == Map("operators" -> 100, "unattributed" -> 200, "spark" -> 550,
      "codegen" -> 50, "catalyst" -> 100))
    assert(self.values.sum == 1000)
  }

  test("a disabled tracer records nothing") {
    val t = new Tracer(enabled = false)
    assert(t.span(t.newOp(), 0, "x", "y")(_ => 5) == 5)
    assert(t.all.isEmpty)
  }
}
