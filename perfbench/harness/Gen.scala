package perfbench

import java.util.SplittableRandom

import graft.streaming.StreamingSma.Tick

/** Seeded input generators shaped like the sf0.1 corpus tables.
  *
  * Ticks follow the `events` → tick mapping of FIXTURES.md: `id` is the
  * zero-padded `event_id`, `symbol` the `user_id` (1500 distinct) and
  * `price` the `value`, drawn exponential with mean 50 and rounded to
  * cents like the corpus (so ~1e-4 of prices round to 0.00 and are
  * cleaned out, and ~1.6% of SMA-5 windows exceed the 108.0 alert
  * threshold). Rows are produced in `event_id` order, the replay order.
  */
object Gen {
  val Symbols = 1500
  val EventTypes: Array[String] = Array("click", "signup", "error", "view", "purchase")

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double, props: String)

  final case class Doc(doc_id: Long, text: String, lang: String, source: String,
                       n_chars: Long)

  def tickId(i: Long): String = f"$i%09d"

  private def price(r: SplittableRandom): Double =
    math.round(-50.0 * math.log(1.0 - r.nextDouble()) * 100.0) / 100.0

  def ticks(seed: Long, n: Int): Array[Tick] = {
    val r = new SplittableRandom(seed)
    Array.tabulate(n) { i =>
      val sym = r.nextInt(Symbols)
      Tick(tickId(i.toLong), sym.toString, price(r))
    }
  }

  /** The `events` table for the batch surface: same value and key
    * distributions, timestamps uniform over 30 days from 2024-01-01.
    */
  def events(seed: Long, n: Int): Seq[Event] = {
    val r = new SplittableRandom(seed)
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    val span = 30L * 24 * 3600 * 1000
    (0 until n).map { i =>
      val ts = new java.sql.Timestamp(t0 + r.nextLong(span))
      Event(i.toLong, ts, r.nextInt(Symbols).toLong, EventTypes(r.nextInt(EventTypes.length)),
        price(r), s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  private val Words = ("a the key agg row scan slow fast table value part hash merge batch " +
    "line sort window spark order data column join small customer query big stream " +
    "filter group vector").split(" ")
  private val Langs = Array("en", "zh", "es", "de", "fr")

  /** Documents in `doc_id` order; `dupShare` of them repeat the text
    * of an earlier document exactly, so the dedup keep set is smaller
    * than the corpus.
    */
  def docs(seed: Long, n: Int, dupShare: Double = 0.1): Array[Doc] = {
    val r = new SplittableRandom(seed)
    val texts = new Array[String](n)
    Array.tabulate(n) { i =>
      texts(i) =
        if (i > 0 && r.nextDouble() < dupShare) texts(r.nextInt(i))
        else Seq.fill(10 + r.nextInt(80))(Words(r.nextInt(Words.length))).mkString(" ")
      Doc(i.toLong, texts(i), Langs(r.nextInt(Langs.length)), s"src${i % 3}",
        texts(i).length.toLong)
    }
  }
}
