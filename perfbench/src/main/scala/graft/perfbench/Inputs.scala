package graft.perfbench

import java.time.Instant

import scala.collection.mutable
import scala.util.Random

/** A BydbQL request: statement text plus positional bind params; `days`
  * is the length of the time window it was drawn for. */
final case class Statement(shape: String, ql: String, params: Seq[Any] = Nil, days: Int = 0) {
  def key: String = ql + params.mkString(" |", ",", "")
}

/** One entity-scan or time-range read of the ingest workload. */
final case class ReadKey(userId: Long, begin: Instant, end: Instant)

/**
 * Seeded input generators. Every workload input that varies between runs
 * comes from here and from nothing else: the same seed yields the same
 * statements, query order, batch offset and read keys.
 */
object Inputs {

  private val EventTypes = Seq("click", "view", "purchase", "signup", "error")
  private val Day0 = Instant.parse("2024-01-01T00:00:00Z")

  /** Window lengths in days: variant `v` of every shape spans
    * `WindowDays(v)`, so each seed asks for the same amount of data. */
  private val WindowDays = Seq(1, 3, 6)

  /** A time window of `days` at a seeded minute inside the fixed events
    * span (2024-01-01 .. 01-31). */
  private def time(r: Random, days: Int): String = {
    val start = Day0.plusSeconds(r.nextInt((30 - days) * 24 * 60) * 60L)
    s"TIME BETWEEN '$start' AND '${start.plusSeconds(days * 86400L)}'"
  }

  /** Shape name → statement maker. Shapes marked `?` bind their literals
    * as params. Together they cover measure agg / group-by / TOP /
    * order-limit, stream element dedup, trace, property and the raw
    * SHOW TOP N fallback. */
  private val shapes: Seq[(String, (Random, Int) => Statement)] = Seq(
    "measure_agg" -> { (r, days) =>
      Statement("measure_agg", "SELECT event_type, SUM(value) FROM MEASURE events IN testdata " +
        s"${time(r, days)} GROUP BY event_type, value")
    },
    "measure_group_in?" -> { (r, days) =>
      val users = Seq.fill(5)(r.nextInt(1500).toLong)
      Statement("measure_group_in?", "SELECT user_id, MAX(value) FROM MEASURE events IN testdata " +
        s"${time(r, days)} WHERE event_type = ? AND user_id IN (?) GROUP BY user_id, value",
        Seq(EventTypes(r.nextInt(5)), users))
    },
    "measure_top" -> { (r, days) =>
      Statement("measure_top", "SELECT TOP 5 value DESC, user_id, SUM(value) FROM MEASURE events " +
        s"IN testdata ${time(r, days)} WHERE event_type = '${EventTypes(r.nextInt(5))}' " +
        "GROUP BY user_id, value")
    },
    "measure_order_limit?" -> { (r, days) =>
      Statement("measure_order_limit?", "SELECT event_id, user_id, value FROM MEASURE events " +
        s"IN testdata ${time(r, days)} WHERE event_type = ? ORDER BY value DESC LIMIT 20",
        Seq(EventTypes(r.nextInt(5))))
    },
    "stream_dedup" -> { (r, days) =>
      Statement("stream_dedup", "SELECT element_id, event_id, value FROM STREAM events_stream " +
        s"IN testdata ${time(r, days)} WHERE event_type = '${EventTypes(r.nextInt(5))}' LIMIT 50")
    },
    "trace" -> { (r, days) =>
      Statement("trace", s"SELECT () FROM TRACE traces IN testdata ${time(r, days)} " +
        s"WHERE event_type = '${EventTypes(r.nextInt(5))}' ORDER BY value DESC LIMIT 10")
    },
    "property?" -> { (r, days) =>
      Statement("property?", "SELECT id, event_type, value FROM PROPERTY user_props IN testdata " +
        "WHERE event_type = ? AND value > ?", Seq(EventTypes(r.nextInt(5)), r.nextInt(1000) / 10.0))
    },
    "show_topn" -> { (r, days) =>
      Statement("show_topn", s"SHOW TOP 10 FROM MEASURE events_topn IN testdata ${time(r, days)} " +
        "AGGREGATE BY SUM ORDER BY DESC")
    })

  val ShapeNames: Seq[String] = shapes.map(_._1)

  /** Statements in one round of the wire mix. */
  val RoundLength: Int = shapes.length * WindowDays.length

  /** The wire mix: an endless stream of rounds, each sending every
    * (shape, window length) pair once in a seeded order, with literals
    * drawn afresh. A draw whose text and params were sent before is drawn
    * again, so no statement is sent twice: shapes repeat (a plan or shape
    * cache can hit), exact statements never do (a result or exact-text
    * cache never hits). Every seed sends the same mix of shapes and window
    * lengths. */
  def wireStatements(seed: Long): Iterator[Statement] = {
    val r = new Random(seed)
    val sent = mutable.Set[String]()
    val pairs = for ((_, make) <- shapes; days <- WindowDays) yield (make, days)
    Iterator.continually(r.shuffle(pairs)).flatten.map { case (make, days) =>
      Iterator.continually(make(r, days).copy(days = days)).find(st => sent.add(st.key)).get
    }
  }

  /** Query order of pass `pass` (pass 0 is the cold first pass). */
  def batchOrder(seed: Long, pass: Int, queries: Seq[String]): Seq[String] =
    new Random(seed * 1000003L + pass).shuffle(queries)

  /** First ingest batch: consecutive batches from here stay time-ordered. */
  def firstBatch(seed: Long, nBatches: Int, maxSteps: Int): Int =
    new Random(seed).nextInt(math.max(1, nBatches - maxSteps + 1))

  /** Read keys for ingest step `step`: users that the batch holds and
    * `hours`-long windows, hour-aligned (so TopN buckets and raw rows cover
    * the same span), at seeded offsets inside what has been ingested. */
  def readKeys(seed: Long, step: Int, users: IndexedSeq[Long], from: Instant,
      to: Instant, n: Int, hours: Int = 24): Seq[ReadKey] = {
    val r = new Random(seed * 7919L + step)
    val first = from.getEpochSecond / 3600 + 1
    val slots = math.max(1L, to.getEpochSecond / 3600 - hours - first + 1)
    Seq.fill(n) {
      val a = (first + (r.nextDouble() * slots).toLong) * 3600
      ReadKey(users(r.nextInt(users.length)), Instant.ofEpochSecond(a),
        Instant.ofEpochSecond(a + hours * 3600L))
    }
  }
}
