package graft.streaming

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkTestBase
import graft.model.Triple

final case class EventRow(ts: Timestamp, event_type: String, user_id: Long, value: Double)

final case class IdEventRow(event_id: Long, ts: Timestamp, event_type: String, user_id: Long, value: Double)

class StreamingSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private def ts(min: Int, sec: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$min%02d:$sec%02d")

  private val rows = Seq(
    EventRow(ts(0, 10), "click", 1L, 1.5),
    EventRow(ts(0, 40), "click", 2L, 2.25),
    EventRow(ts(0, 50), "view", 1L, 0.5),
    EventRow(ts(1, 5), "click", 3L, 3.0),
    EventRow(ts(2, 0), "view", 2L, 1.0)
  )

  test("windowedStats: streaming (complete mode) equals batch on same data") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[EventRow]
    val q = EventsStream
      .windowedStats(ms.toDF())
      .writeStream
      .format("memory")
      .queryName("agg_stream")
      .outputMode("complete")
      .start()
    try {
      ms.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark
        .table("agg_stream")
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      val batch = EventsStream
        .windowedStats(rows.toDF())
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(streamed == batch)
      assert(batch.contains((ts(0, 0), "click", 2L, 3750L))) // 1500 + 2250
    } finally q.stop()
  }

  test("enrich: stream-static left join equals batch; unknown types pass through") {
    implicit val sql = spark.sqlContext
    val dim = Seq(("click", 10L), ("view", 20L)).toDF("event_type", "weight")
    val withUnknown = rows :+ EventRow(ts(3, 0), "mystery", 9L, 0.0)
    val ms = MemoryStream[EventRow]
    val q = EventsStream
      .enrich(ms.toDF(), dim)
      .writeStream
      .format("memory")
      .queryName("enrich_stream")
      .outputMode("append")
      .start()
    try {
      ms.addData(withUnknown: _*)
      q.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) = df
        .collect()
        .map(r => (r.getString(0), r.getLong(2), Option(r.get(4)).map(_.asInstanceOf[Long])))
        .toSet
      val streamed = shape(spark.table("enrich_stream"))
      val batch = shape(EventsStream.enrich(withUnknown.toDF(), dim))
      assert(streamed == batch)
      assert(streamed.contains(("mystery", 9L, None))) // left join keeps unknowns
      assert(streamed.contains(("click", 1L, Some(10L))))
    } finally q.stop()
  }

  test("newTriples: stateful streaming distinct emits each triple once") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[Triple]
    val q = EventsStream
      .newTriples(ms.toDS())
      .writeStream
      .format("memory")
      .queryName("new_triples")
      .outputMode("append")
      .start()
    try {
      val t1 = Triple("Linda", "is mother of", "Josh")
      val t2 = Triple("Ben", "is brother of", "Josh")
      val t3 = Triple("Andrew", "is father of", "Josh")
      ms.addData(t1, t2, t1) // duplicate within batch
      q.processAllAvailable()
      ms.addData(t1, t3) // duplicate across batches
      q.processAllAvailable()
      val out = spark.table("new_triples").as[Triple].collect()
      assert(out.length == 3, out.mkString(";"))
      assert(out.toSet == Set(t1, t2, t3))
    } finally q.stop()
  }

  test("newTriplesExpiring: TTL bounds state — dedup inside the horizon, re-emit after expiry") {
    implicit val sql = spark.sqlContext
    import EventsStream.SightedTriple
    def st(s: String, min: Int, sec: Int = 0) = SightedTriple(s, "p", "o", ts(min, sec))
    val ms = MemoryStream[SightedTriple]
    val q = EventsStream
      .newTriplesExpiring(ms.toDS(), ttl = "2 minutes", lateBound = "0 seconds")
      .writeStream
      .format("memory")
      .queryName("exp_triples")
      .outputMode("append")
      .start()
    try {
      ms.addData(st("A", 0), st("A", 0, 30)) // within-batch dup
      q.processAllAvailable()
      ms.addData(st("A", 1), st("C", 1)) // A inside TTL -> suppressed
      q.processAllAvailable()
      ms.addData(st("D", 10)) // watermark jumps past A/C timeouts next batch
      q.processAllAvailable()
      ms.addData(st("E", 10, 30)) // batch where A's state times out (no A data)
      q.processAllAvailable()
      ms.addData(st("A", 11)) // state expired -> re-emitted
      q.processAllAvailable()
      val out = spark.table("exp_triples").as[Triple].collect()
      val counts = out.groupBy(_.subject).view.mapValues(_.length).toMap
      assert(counts == Map("A" -> 2, "C" -> 1, "D" -> 1, "E" -> 1), out.mkString(";"))
    } finally q.stop()
  }

  test("newTriplesExpiring: an out-of-order in-watermark sighting cannot shrink the TTL deadline") {
    implicit val sql = spark.sqlContext
    import EventsStream.SightedTriple
    def st(s: String, min: Int, sec: Int = 0) = SightedTriple(s, "p", "o", ts(min, sec))
    val ms = MemoryStream[SightedTriple]
    val q = EventsStream
      .newTriplesExpiring(ms.toDS(), ttl = "2 minutes", lateBound = "10 minutes")
      .writeStream
      .format("memory")
      .queryName("exp_mono")
      .outputMode("append")
      .start()
    try {
      ms.addData(st("A", 10)) // deadline 12:00
      q.processAllAvailable()
      // late-but-in-watermark re-sighting: overwriting state with THIS
      // batch's max would pull A's deadline back to 7:00
      ms.addData(st("A", 5))
      q.processAllAvailable()
      ms.addData(st("B", 18)) // watermark -> 8:00: past the buggy 7:00
      q.processAllAvailable() // deadline, before the true 12:00 one
      ms.addData(st("C", 19)) // timeouts fire against watermark 8:00
      q.processAllAvailable()
      // A re-appears INSIDE its true TTL window: with the monotone
      // deadline its state survived (12:00 > 8:00), so this is a
      // suppressed duplicate, not a re-emit
      ms.addData(st("A", 11))
      q.processAllAvailable()
      val counts = spark.table("exp_mono").as[Triple].collect()
        .groupBy(_.subject).view.mapValues(_.length).toMap
      assert(counts == Map("A" -> 1, "B" -> 1, "C" -> 1), counts.toString)
    } finally q.stop()
  }

  test("KgStream: streaming KG extraction equals batch across micro-batch splits") {
    implicit val sql = spark.sqlContext
    val cfg = graft.corpus.CorpusGen.Config(nDocs = 40)
    val pages = (0L until 40L).map(graft.corpus.CorpusGen.page(cfg, _))
    val ms = MemoryStream[graft.model.Page]
    val q = KgStream
      .triples(ms.toDS())
      .writeStream
      .format("memory")
      .queryName("kg_stream")
      .outputMode("append")
      .start()
    try {
      // same corpus fed in two micro-batches, with an overlap re-feed:
      // the triple set must equal the batch pipeline's and carry no
      // duplicates (state store = global distinct)
      ms.addData(pages.take(25): _*)
      q.processAllAvailable()
      ms.addData(pages.drop(15): _*) // 10 pages re-fed
      q.processAllAvailable()
      val streamed = spark.table("kg_stream").as[Triple].collect()
      val batch = KgStream.triples(pages.toDS()).collect().toSet
      assert(streamed.toSet == batch)
      assert(streamed.length == batch.size, "append stream must emit each triple once")
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("KgStream.intoStore: streamed merges equal the batch triple set, replays are empty deltas") {
    implicit val sql = spark.sqlContext
    val cfg = graft.corpus.CorpusGen.Config(nDocs = 30)
    val pages = (0L until 30L).map(graft.corpus.CorpusGen.page(cfg, _))
    val root = java.nio.file.Files.createTempDirectory("graft-kgstream").toString
    val store = new graft.store.MemoryStore(spark, root)
    val ms = MemoryStream[graft.model.Page]
    val q = KgStream.intoStore(
      ms.toDS(),
      store,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)
    )
    try {
      ms.addData(pages.take(20): _*)
      q.processAllAvailable()
      val afterFirst = store.triples.count()
      ms.addData(pages.drop(10): _*) // 10 pages re-fed + 10 new
      q.processAllAvailable()
      val batchTriples = KgStream.triples(pages.toDS()).collect()
        .map(t => (t.subject, t.predicate, t.obj)).toSet
      val storeTriples = store.triples.collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(storeTriples == batchTriples)
      // entity parity with batch generate(): ALL mentioned entities land
      // in the store, including ones that appear in no valid triple
      val (batchEnts, _, _) = graft.extract.Extract.generate(pages.toDS())
      assert(
        store.entities.collect().map(_.getString(0)).toSet ==
          batchEnts.collect().map(_.getString(0)).toSet
      )
      assert(afterFirst <= batchTriples.size)
      assert(store.version >= 2)
      // replaying already-merged pages must not duplicate content
      ms.addData(pages.take(5): _*)
      q.processAllAvailable()
      assert(store.triples.count() == batchTriples.size)
    } finally q.stop()
  }

  test("watermarked variant runs in append mode") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[EventRow]
    val q = EventsStream
      .windowedStatsStreaming(ms.toDF())
      .writeStream
      .format("memory")
      .queryName("agg_wm")
      .outputMode("append")
      .start()
    try {
      ms.addData(rows: _*)
      q.processAllAvailable()
      // advance the watermark past the first windows
      ms.addData(EventRow(ts(9, 0), "click", 9L, 1.0))
      q.processAllAvailable()
      val closed = spark.table("agg_wm").collect()
      assert(closed.nonEmpty, "watermark advance must close early windows")
    } finally q.stop()
  }

  test("propsStats: JSON-path extraction with exact per-type stats; bad JSON excluded") {
    def ts0 = Timestamp.valueOf("2024-01-01 10:00:00")
    val ev = Seq(
      (1L, ts0, 1L, "click", 0.0, """{"k": 10}"""),
      (2L, ts0, 1L, "click", 0.0, """{"k": 25}"""),
      (3L, ts0, 2L, "view", 0.0, """{"k": 7}"""),
      (4L, ts0, 2L, "view", 0.0, "not json"), // unparseable -> excluded
      (5L, ts0, 3L, "error", 0.0, """{"other": 1}""") // k absent -> excluded
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventsStream.propsStats(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toSet
    // click: n=2 sum=35 min=10 max=25 avg=17500; view: n=1 sum=7 avg=7000
    assert(got == Set(
      ("click", 2L, 35L, 10L, 25L, 17500L),
      ("view", 1L, 7L, 7L, 7L, 7000L)
    ))
  }

  test("valueStats: hand-computed exact integer variance") {
    def ts0 = Timestamp.valueOf("2024-01-01 10:00:00")
    // click values 1.00, 2.00, 3.00 -> centi 100, 200, 300:
    // n=3 sum=600 ss=140000 -> var = (3*140000 - 360000) div 6 = 10000
    // view single value -> var 0
    val ev = Seq(
      (1L, ts0, 1L, "click", 1.0, ""),
      (2L, ts0, 1L, "click", 2.0, ""),
      (3L, ts0, 2L, "click", 3.0, ""),
      (4L, ts0, 2L, "view", 5.5, "")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventsStream.valueStats(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toSet
    assert(got == Set(
      ("click", 3L, 600L, 100L, 300L, 10000L),
      ("view", 1L, 550L, 550L, 550L, 0L)
    ))
  }

  test("slidingStats: each event lands in exactly two overlapping windows") {
    val ev = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:30"), 1L, "click", 0.0, ""),
      (2L, Timestamp.valueOf("2024-01-01 10:01:10"), 1L, "click", 0.0, "")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventsStream.slidingStats(ev).collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
    // event 1 -> windows starting 09:59 and 10:00; event 2 -> 10:00 and 10:01
    assert(got == Set(
      ("2024-01-01 09:59:00.0", "click", 1L),
      ("2024-01-01 10:00:00.0", "click", 2L),
      ("2024-01-01 10:01:00.0", "click", 1L)
    ))
  }

  test("rollingDaily: RANGE frame respects calendar gaps") {
    def d(day: Int, h: Int) = Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")
    // days 1 (2 events), 2 (1), 5 (1): day 2 rolls days 1-2; day 5 rolls
    // only itself (days 3-4 empty — a ROWS frame would wrongly include day 2)
    val ev = Seq(
      (1L, d(1, 9), 1L, "click", 0.0, ""),
      (2L, d(1, 10), 2L, "click", 0.0, ""),
      (3L, d(2, 9), 1L, "click", 0.0, ""),
      (4L, d(5, 9), 1L, "click", 0.0, "")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventsStream.rollingDaily(ev).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(
      ("2024-01-01", 2L, 2L, 2L),
      ("2024-01-02", 1L, 1L, 3L),
      ("2024-01-05", 1L, 1L, 1L)
    ))
  }

  test("uniquesSketch: streaming (complete mode) equals batch on same data") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[EventRow]
    val q = EventsStream
      .uniquesSketch(ms.toDF())
      .writeStream
      .format("memory")
      .queryName("uniq_stream")
      .outputMode("complete")
      .start()
    try {
      ms.addData(rows: _*)
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) = (r.getDate(0).toString, r.getLong(1), r.getLong(2))
      val streamed = spark.table("uniq_stream").collect().map(key).toSet
      val batch = EventsStream.uniquesSketch(rows.toDF()).collect().map(key).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("uniquesSketch: registers merge by MAX and repeats never move them") {
    def t(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 10:00:00")
    def ev(rows: (Long, Int, Long)*) =
      rows.map { case (id, d, u) => (id, t(d), u, "click", 0.0, "") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val a = ev((1L, 1, 10L), (2L, 1, 11L), (3L, 2, 10L))
    val b = ev((4L, 1, 12L), (5L, 1, 10L), (6L, 2, 13L))
    def sk(df: org.apache.spark.sql.DataFrame) =
      EventsStream.uniquesSketch(df).collect()
        .map(r => ((r.getDate(0).toString, r.getLong(1)), r.getLong(2))).toMap
    val merged = (sk(a).toSeq ++ sk(b).toSeq)
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
    assert(sk(a.unionByName(b)) == merged, "sketch(A ∪ B) must equal max-merge of shards")
    // duplicate sightings of a user are idempotent (max of equal ranks)
    assert(sk(a.unionByName(a)) == sk(a))
  }

  test("debounce: drops events within the gap of their direct predecessor only") {
    def t(m: Int, s: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:$s%02d")
    val ev = Seq(
      (1L, t(0, 0), 1L, "click", 0.0, ""),
      (2L, t(2, 0), 1L, "click", 0.0, ""), // 120s after 1 -> dropped
      (3L, t(7, 1), 1L, "click", 0.0, ""), // 301s after 2 -> kept (non-chained rule)
      (4L, t(0, 30), 1L, "view", 0.0, ""), // other type: independent
      (5L, t(1, 0), 2L, "click", 0.0, "") // other user: independent
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val kept = EventsStream.debounce(ev, gapSeconds = 300).select("event_id")
      .as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L, 5L))
  }

  test("transitions: per-user consecutive pairs with exact conditional probability") {
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // user 1: click -> view -> click; user 2: click -> buy
    // pairs: (click,view) 1, (view,click) 1, (click,buy) 1
    // heads: click 2, view 1 -> p(view|click)=500, p(buy|click)=500, p(click|view)=1000
    val ev = Seq(
      (1L, t(0), 1L, "click", 0.0, ""),
      (2L, t(1), 1L, "view", 0.0, ""),
      (3L, t(2), 1L, "click", 0.0, ""),
      (4L, t(0), 2L, "click", 0.0, ""),
      (5L, t(5), 2L, "buy", 0.0, "")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventsStream.transitions(ev).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(
      ("click", "view", 1L, 500L),
      ("click", "buy", 1L, 500L),
      ("view", "click", 1L, 1000L)
    ))
  }

  test("sessionize splits on gaps over the threshold and rolls up per session") {
    import org.apache.spark.sql.functions.col
    // user 1: events at 10:00, 10:10, 10:50 with 30-min gap rule ->
    // session 1 = {10:00, 10:10} (duration 600 s), session 2 = {10:50};
    // user 2: one event -> one singleton session
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val ev = Seq(
      (1L, t(10, 0), 1L, "click", 0.0, ""),
      (2L, t(10, 10), 1L, "click", 0.0, ""),
      (3L, t(10, 50), 1L, "view", 0.0, ""),
      (4L, t(12, 0), 2L, "click", 0.0, "")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventsStream.sessionize(ev, gapMinutes = 30)
      .select(col("user_id"), col("session_seq"), col("n_events"), col("duration_sec"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set((1L, 1L, 2L, 600L), (1L, 2L, 1L, 0L), (2L, 1L, 1L, 0L)))
  }

  test("sessionize: a gap of exactly the threshold stays in one session") {
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val ev = Seq(
      (1L, t(0), 1L, "click", 0.0, ""),
      (2L, t(30), 1L, "click", 0.0, "")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    assert(EventsStream.sessionize(ev, gapMinutes = 30).count() == 1L)
  }

  test("funnel counts only in-order progressions") {
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // user 1: click -> view -> purchase (full funnel)
    // user 2: view BEFORE click, no view after -> stops at stage 1
    // user 3: view only -> never enters
    val ev = Seq(
      (1L, t(0), 1L, "click", 0.0, ""), (2L, t(1), 1L, "view", 0.0, ""),
      (3L, t(2), 1L, "purchase", 0.0, ""),
      (4L, t(0), 2L, "view", 0.0, ""), (5L, t(1), 2L, "click", 0.0, ""),
      (6L, t(0), 3L, "view", 0.0, "")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventsStream.funnel(ev, Seq("click", "view", "purchase")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(
      (1L, "click", 2L, 1000L),
      (2L, "view", 1L, 500L),
      (3L, "purchase", 1L, 500L)
    ))
  }

  test("funnel: same-timestamp step event counts (at-or-after rule)") {
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val ev = Seq(
      (1L, t(0), 1L, "click", 0.0, ""), (2L, t(0), 1L, "view", 0.0, "")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val n = EventsStream.funnel(ev, Seq("click", "view")).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(n == Map(1L -> 1L, 2L -> 1L))
  }

  test("rangeJoinStreaming: stream-stream interval join equals batch Temporal.rangeJoin") {
    implicit val sql = spark.sqlContext
    def at(sec: Long) = new Timestamp(1704067200000L + sec * 1000L) // 2024-01-01 00:00:00 UTC + sec
    val fixture = Seq(
      IdEventRow(1L, at(0), "signup", 1L, 0.0),
      IdEventRow(2L, at(0), "purchase", 1L, 1.0), // lag 0: in
      IdEventRow(3L, at(3599), "purchase", 1L, 1.0), // lag 3599: in
      IdEventRow(4L, at(3600), "purchase", 1L, 1.0), // lag 3600: out (half-open)
      IdEventRow(5L, at(3590), "signup", 1L, 0.0), // second window: catches 3 (lag 9) and 4 (lag 10)
      IdEventRow(6L, at(7180), "purchase", 1L, 1.0), // lag 3590 from signup 5: in
      IdEventRow(7L, at(10), "purchase", 2L, 1.0) // other user: never joined
    )
    val ms = MemoryStream[IdEventRow]
    val q = EventsStream
      .rangeJoinStreaming(ms.toDF())
      .writeStream
      .format("memory")
      .queryName("range_join_stream")
      .outputMode("append")
      .start()
    val streamed =
      try {
        ms.addData(fixture: _*)
        q.processAllAvailable()
        spark
          .table("range_join_stream")
          .collect()
          .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
          .toSet
      } finally q.stop()
    val batch = graft.ops.Temporal
      .rangeJoin(fixture.toDF())
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .toSet
    assert(streamed == batch)
    assert(
      batch == Set((1L, 2L, 0L), (1L, 3L, 3599L), (5L, 3L, 9L), (5L, 4L, 10L), (5L, 6L, 3590L))
    )
  }

  test("asofJoinStreaming: single-batch output equals batch Temporal.asofJoin") {
    implicit val sql = spark.sqlContext
    def at(sec: Long) = new Timestamp(1704067200000L + sec * 1000L)
    val fixture = Seq(
      IdEventRow(1L, at(5), "purchase", 1L, 9.0), // before any view: null quote
      IdEventRow(2L, at(10), "view", 1L, 1.5),
      IdEventRow(3L, at(20), "purchase", 1L, 9.0), // prevailing = view 2
      IdEventRow(4L, at(30), "view", 1L, 2.5),
      IdEventRow(5L, at(30), "purchase", 1L, 9.0), // same ts: quote side sorts first -> view 4
      IdEventRow(6L, at(40), "purchase", 1L, 9.0), // still view 4
      IdEventRow(7L, at(15), "purchase", 2L, 9.0), // other user, no views: null quote
      IdEventRow(8L, at(1), "view", 3L, 0.25) // quote-only user: no output row
    )
    val ms = MemoryStream[IdEventRow]
    val q = EventsStream
      .asofJoinStreaming(ms.toDF())
      .writeStream
      .format("memory")
      .queryName("asof_stream")
      .outputMode("append")
      .start()
    val streamed =
      try {
        ms.addData(fixture: _*)
        q.processAllAvailable()
        spark
          .table("asof_stream")
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)), Option(r.get(3))))
          .toSet
      } finally q.stop()
    val batch = graft.ops.Temporal
      .asofJoin(fixture.toDF())
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)), Option(r.get(3))))
      .toSet
    assert(streamed == batch)
    assert(
      batch == Set(
        (1L, 1L, None, None),
        (3L, 1L, Some(2L), Some(1500L)),
        (5L, 1L, Some(4L), Some(2500L)),
        (6L, 1L, Some(4L), Some(2500L)),
        (7L, 2L, None, None)
      )
    )
  }

  test("asofJoinStreaming: quote state carries across micro-batches") {
    implicit val sql = spark.sqlContext
    def at(sec: Long) = new Timestamp(1704067200000L + sec * 1000L)
    val ms = MemoryStream[IdEventRow]
    val q = EventsStream
      .asofJoinStreaming(ms.toDF())
      .writeStream
      .format("memory")
      .queryName("asof_state")
      .outputMode("append")
      .start()
    try {
      ms.addData(IdEventRow(1L, at(10), "view", 1L, 3.0))
      q.processAllAvailable()
      // probe arrives a batch later: must see the remembered quote
      ms.addData(IdEventRow(2L, at(20), "purchase", 1L, 9.0))
      q.processAllAvailable()
      // stale quote (earlier event time) must NOT displace the state
      ms.addData(
        IdEventRow(3L, at(5), "view", 1L, 99.0),
        IdEventRow(4L, at(30), "purchase", 1L, 9.0)
      )
      q.processAllAvailable()
      val out = spark
        .table("asof_state")
        .collect()
        .map(r => (r.getLong(0), Option(r.get(2)), Option(r.get(3))))
        .toSet
      assert(out == Set((2L, Some(1L), Some(3000L)), (4L, Some(1L), Some(3000L))))
    } finally q.stop()
  }

  test("cohortRetention groups by first-event date and day offset") {
    def d(day: Int, h: Int) = Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")
    // users 1,2 join Jan 1 (cohort 01-01); user 1 active again day+2;
    // user 3 joins Jan 2
    val ev = Seq(
      (1L, d(1, 9), 1L, "click", 0.0, ""), (2L, d(1, 10), 2L, "click", 0.0, ""),
      (3L, d(3, 9), 1L, "view", 0.0, ""), (4L, d(2, 9), 3L, "click", 0.0, "")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventsStream.cohortRetention(ev).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      ("2024-01-01", 0L, 2L),
      ("2024-01-01", 2L, 1L),
      ("2024-01-02", 0L, 1L)
    ))
  }

  test("DedupStream: streamed verdicts equal the batch operator across micro-batch splits") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val base = d.where(col("doc_id") % 4 =!= 3)
    val baseState = graft.ops.Dedup.state(base)
    val delta = d.where(col("doc_id") % 4 === 3)
      .select("doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .toSeq
    val got = scala.collection.mutable.Set.empty[(Long, Option[Long], Long)]
    val ms = MemoryStream[(Long, String)]
    val q = graft.streaming.DedupStream.keepVerdicts(
      ms.toDS().toDF("doc_id", "text"),
      baseState,
      (batch, _) =>
        got.synchronized {
          got ++= batch.collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]), r.getLong(2)))
        },
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)
    )
    try {
      // two micro-batches with an overlap re-feed: verdicts are per-doc
      // pure functions of the static base artifacts, so the union must
      // equal the batch operator's output exactly
      ms.addData(delta.take(80): _*)
      q.processAllAvailable()
      ms.addData(delta.drop(60): _*)
      q.processAllAvailable()
      val batchExpected = graft.ops.Dedup
        .incrementalKeep(baseState, d.where(col("doc_id") % 4 === 3))
        .collect()
        .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]), r.getLong(2)))
        .toSet
      assert(got.toSet == batchExpected)
      assert(batchExpected.exists(_._3 == 0L), "fixture has no duplicates — weak test")
    } finally q.stop()
  }

  test("seasonality: dow profile in permille, Sunday = 0") {
    // 2024-02-04 is a Sunday
    val rows =
      Seq.fill(3)((Timestamp.valueOf("2024-02-04 09:00:00"), "a")) ++
        Seq((Timestamp.valueOf("2024-02-05 09:00:00"), "a")) ++
        Seq.fill(2)((Timestamp.valueOf("2024-02-06 09:00:00"), "b"))
    val got = EventsStream.seasonality(rows.toDF("ts", "event_type")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(
      ("a", 0L, 3L, 750L),
      ("a", 1L, 1L, 250L),
      ("b", 2L, 2L, 1000L)
    ))
  }

  test("interArrival: histogram-exact gap stats per type") {
    val t0 = Timestamp.valueOf("2024-02-04 09:00:00").getTime
    def ts(offsetS: Long) = new Timestamp(t0 + offsetS * 1000L)
    // user 1 type a: gaps 10, 20, 70; user 2 type a: gap 20
    // type b: one event — no gaps, absent from the output
    val ev = Seq(
      (1L, ts(0), 1L, "a"), (2L, ts(10), 1L, "a"), (3L, ts(30), 1L, "a"), (4L, ts(100), 1L, "a"),
      (5L, ts(0), 2L, "a"), (6L, ts(20), 2L, "a"),
      (7L, ts(0), 1L, "b")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val got = EventsStream.interArrival(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    // gaps {10, 20, 20, 70}: lower median rank (4+1) div 2 = 2 -> 20;
    // mean = 120/4 s = 30000 milli
    assert(got == Set(("a", 4L, 20L, 30000L, 70L)))
  }

  test("anomalyDays: lower-median/MAD rule with the MAD floor") {
    // type "a": 10/10/10/10/100 events across 5 days — med 10 (rank 3),
    // MAD 0 (rank 3 of 0,0,0,0,90) floored to 1, so only day 5's
    // deviation 90 >= 3*1 flags; the constant days (deviation 0) don't.
    // type "b": constant 5/day — never flags.
    val rows = (1 to 4).flatMap(d => Seq.fill(10)((Timestamp.valueOf(f"2024-02-0$d 09:00:00"), "a"))) ++
      Seq.fill(100)((Timestamp.valueOf("2024-02-05 09:00:00"), "a")) ++
      (1 to 5).flatMap(d => Seq.fill(5)((Timestamp.valueOf(f"2024-02-0$d 09:00:00"), "b")))
    val ev = rows.toDF("ts", "event_type")
    val got = EventsStream.anomalyDays(ev, k = 3).collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toSet
    assert(got == Set(("a", "2024-02-05", 100L, 10L, 0L, 90L)))
  }

  test("lifecycle: new/retained/resurrected plus confirmed-only churn") {
    // user 1: 02-01 (new), 02-03 (retained, gap 2), 02-15 (resurrected,
    //   gap 12 > 7 — which also confirms churn on 02-04); final day is
    //   the corpus max so their trailing gap is unconfirmed -> no churn.
    // user 2: 02-01 only; 14 days elapse before corpus end -> churned 02-02.
    // user 3: 02-14 only; 1 day before corpus end -> gap unconfirmed, no churn.
    val ev = Seq(
      (1L, Timestamp.valueOf("2024-02-01 09:00:00")),
      (1L, Timestamp.valueOf("2024-02-01 11:00:00")), // same-day dup: one active day
      (1L, Timestamp.valueOf("2024-02-03 09:00:00")),
      (1L, Timestamp.valueOf("2024-02-15 09:00:00")),
      (2L, Timestamp.valueOf("2024-02-01 09:00:00")),
      (3L, Timestamp.valueOf("2024-02-14 09:00:00"))
    ).toDF("user_id", "ts")
    val got = EventsStream.lifecycle(ev).collect()
      .map(r => (r.getDate(0).toString, r.getString(1), r.getLong(2))).toSet
    assert(got == Set(
      ("2024-02-01", "new", 2L),
      ("2024-02-03", "retained", 1L),
      ("2024-02-15", "resurrected", 1L),
      ("2024-02-04", "churned", 1L),
      ("2024-02-02", "churned", 1L),
      ("2024-02-14", "new", 1L)
    ))
  }

  test("rfm: quartiles over day/log2 buckets, r_score inverted") {
    // max_day = 02-10; four users, one per quartile on each dimension:
    //   u1: recency 0, freq 1 (fb 1), monetary 0      (mb 0)
    //   u2: recency 1, freq 2 (fb 2), monetary 1000   (mb 10)
    //   u3: recency 5, freq 4 (fb 3), monetary 10000  (mb 14)
    //   u4: recency 9, freq 8 (fb 4), monetary 100000 (mb 17)
    // n=4, each bucket holds one user → quartile = cum ∈ {1,2,3,4}
    def t(s: String) = Timestamp.valueOf(s)
    val ev = (
      Seq((1L, t("2024-02-10 09:00:00"), "view", 0.0)) ++
        Seq((2L, t("2024-02-09 09:00:00"), "view", 5.0), (2L, t("2024-02-09 10:00:00"), "purchase", 1.0)) ++
        Seq(
          (3L, t("2024-02-04 09:00:00"), "view", 0.0), (3L, t("2024-02-05 09:00:00"), "purchase", 4.0),
          (3L, t("2024-02-05 10:00:00"), "purchase", 6.0), (3L, t("2024-02-05 11:00:00"), "view", 0.0)
        ) ++
        (1 to 6).map(h => (4L, t(f"2024-02-01 0$h:00:00"), "view", 0.0)) ++
        Seq((4L, t("2024-02-01 07:00:00"), "purchase", 50.0), (4L, t("2024-02-01 08:00:00"), "purchase", 50.0))
    ).toDF("user_id", "ts", "event_type", "value")
    val got = EventsStream.rfm(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toSet
    assert(got == Set(
      (1L, 0L, 1L, 0L, 4L, 1L, 1L),
      (2L, 1L, 2L, 1000L, 3L, 2L, 2L),
      (3L, 5L, 4L, 10000L, 2L, 3L, 3L),
      (4L, 9L, 8L, 100000L, 1L, 4L, 4L)
    ))
  }

  test("attribution: first-touch view plus running touch count") {
    def t(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      // u1: views 10, 11 then purchases 12, 13 after a third view 14?
      (10L, 1L, t("2024-02-01 09:00:00"), "view"),
      (11L, 1L, t("2024-02-01 10:00:00"), "view"),
      (12L, 1L, t("2024-02-01 11:00:00"), "purchase"),
      (14L, 1L, t("2024-02-01 12:00:00"), "view"),
      (13L, 1L, t("2024-02-01 13:00:00"), "purchase"), // 3 touches now
      // u2: purchase with no views → null first touch, 0 touches
      (20L, 2L, t("2024-02-01 09:00:00"), "purchase"),
      // u3: view and purchase at the SAME ts — side orders view first
      (30L, 3L, t("2024-02-01 09:00:00"), "view"),
      (31L, 3L, t("2024-02-01 09:00:00"), "purchase"),
      // non-attributable types are ignored entirely
      (32L, 3L, t("2024-02-01 08:00:00"), "signup")
    ).toDF("event_id", "user_id", "ts", "event_type")
    val got = EventsStream.attribution(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]), r.getLong(3)))
      .toSet
    assert(got == Set(
      (12L, 1L, Some(10L), 2L),
      (13L, 1L, Some(10L), 3L),
      (20L, 2L, None, 0L),
      (31L, 3L, Some(30L), 1L)
    ))
  }

  test("sessionizeStreaming: gap-closed and timeout-flushed sessions equal batch") {
    implicit val sql = spark.sqlContext
    import EventsStream.SessionEvent
    def at(s: String) = Timestamp.valueOf(s)
    val evs = Seq(
      SessionEvent(1L, 1L, at("2024-01-01 10:00:00")),
      SessionEvent(1L, 2L, at("2024-01-01 10:10:00")), // same session (10 min gap)
      SessionEvent(1L, 3L, at("2024-01-01 11:00:00")), // 50 min gap → new session
      SessionEvent(2L, 4L, at("2024-01-01 10:05:00")),
      // sub-second timestamp: output must carry the RAW millisecond
      // bounds (batch emits min/max of the original ts), duration the
      // floored-second difference
      SessionEvent(3L, 5L, at("2024-01-01 10:00:00.5"))
    )
    val ms = MemoryStream[SessionEvent]
    val q = EventsStream.sessionizeStreaming(ms.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_stream").outputMode("append").start()
    try {
      ms.addData(evs: _*)
      q.processAllAvailable()
      // two sentinel batches push the watermark far past end+gap so the
      // event-time timeouts flush every still-open session
      ms.addData(SessionEvent(99L, 999L, at("2024-01-01 20:00:00")))
      q.processAllAvailable()
      ms.addData(SessionEvent(99L, 1000L, at("2024-01-01 20:00:01")))
      q.processAllAvailable()
      val streamed = spark.table("sess_stream")
        .where(org.apache.spark.sql.functions.col("user_id") =!= 99L)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getTimestamp(3), r.getLong(4)))
        .toSet
      val batch = EventsStream.sessionize(evs.toDF(), gapMinutes = 30)
        .collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getTimestamp(3), r.getTimestamp(4), r.getLong(5)))
        .toSet
      assert(streamed == batch)
      assert(batch.size == 4) // user 1 × 2 sessions + users 2, 3 × 1
      assert(batch.exists(_._3 == at("2024-01-01 10:00:00.5"))) // raw ms kept
    } finally q.stop()
  }

  test("retentionCurve: horizon-eligible denominators per offset") {
    def t(s: String) = Timestamp.valueOf(s + " 09:00:00")
    val ev = Seq(
      (1L, t("2024-02-01")), (1L, t("2024-02-03")), // cohort 02-01, offsets {0,2}, horizon 9
      (2L, t("2024-02-09")), (2L, t("2024-02-10")), // cohort 02-09, offsets {0,1}, horizon 1
      (3L, t("2024-02-10")) // cohort = last day, horizon 0
    ).toDF("user_id", "ts")
    val got = EventsStream.retentionCurve(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // eligible: horizon ≥0 → 3 users, ≥1 → 2, ≥2 → 1
    assert(got == Set(
      (0L, 3L, 3L, 1000L),
      (1L, 1L, 2L, 500L),
      (2L, 1L, 1L, 1000L)
    ))
  }

  test("hourlyProfile: diurnal permille per type") {
    val ev = Seq(
      (1L, Timestamp.valueOf("2024-02-01 09:10:00"), "a"),
      (2L, Timestamp.valueOf("2024-02-02 09:50:00"), "a"),
      (3L, Timestamp.valueOf("2024-02-01 15:00:00"), "a")
    ).toDF("user_id", "ts", "event_type")
    val got = EventsStream.hourlyProfile(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(("a", 9L, 2L, 666L), ("a", 15L, 1L, 333L)))
  }

  test("streaks: islands isolate runs, ties take the earliest start") {
    def t(s: String) = Timestamp.valueOf(s + " 09:00:00")
    val ev = (
      Seq("2024-02-01", "2024-02-02", "2024-02-03", "2024-02-05", "2024-02-06").map(d => (1L, t(d))) ++
        Seq("2024-02-01", "2024-02-02", "2024-02-04", "2024-02-05").map(d => (2L, t(d))) ++
        Seq((2L, Timestamp.valueOf("2024-02-01 18:00:00"))) ++ // same-day dup
        Seq((3L, t("2024-02-10")))
    ).toDF("user_id", "ts")
    val got = EventsStream.streaks(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDate(3).toString)).toSet
    assert(got == Set(
      (1L, 5L, 3L, "2024-02-01"), // runs 3 + 2 → best 3
      (2L, 4L, 2L, "2024-02-01"), // two len-2 runs tie → earliest start
      (3L, 1L, 1L, "2024-02-10")
    ))
  }

  test("dauWau: exact trailing-7-day distinct actives and stickiness") {
    def t(s: String) = Timestamp.valueOf(s + " 09:00:00")
    val ev = Seq((1L, t("2024-02-01")), (1L, t("2024-02-05")), (2L, t("2024-02-01")))
      .toDF("user_id", "ts")
    val got = EventsStream.dauWau(ev).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // 02-05's trailing week still contains both users' 02-01 activity
    assert(got == Set(
      ("2024-02-01", 2L, 2L, 1000L),
      ("2024-02-05", 1L, 2L, 500L)
    ))
  }

  test("trigrams: 3-step paths with pair-conditional milli") {
    def t(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      (1L, 1L, t("2024-02-01 09:00:00"), "view"),
      (2L, 1L, t("2024-02-01 09:01:00"), "view"),
      (3L, 1L, t("2024-02-01 09:02:00"), "cart"),
      (4L, 1L, t("2024-02-01 09:03:00"), "purchase"),
      (5L, 2L, t("2024-02-01 09:00:00"), "view"),
      (6L, 2L, t("2024-02-01 09:01:00"), "cart"),
      (7L, 2L, t("2024-02-01 09:02:00"), "abandon")
    ).toDF("event_id", "user_id", "ts", "event_type")
    val got = EventsStream.trigrams(ev).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4))).toSet
    // (view,cart) leads to purchase and abandon once each -> 500/500;
    // (view,view) always leads to cart -> 1000
    assert(got == Set(
      ("view", "view", "cart", 1L, 1000L),
      ("view", "cart", "purchase", 1L, 500L),
      ("view", "cart", "abandon", 1L, 500L)
    ))
  }

  test("activityHistogram: log2 events-per-user buckets") {
    val ev = (Seq.fill(1)(1L) ++ Seq.fill(2)(2L) ++ Seq.fill(3)(3L) ++ Seq.fill(8)(4L))
      .map(u => (u, Timestamp.valueOf("2024-02-01 09:00:00")))
      .toDF("user_id", "ts")
    val got = EventsStream.activityHistogram(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // counts 1→bucket 0; 2,3→bucket 1; 8→bucket 3
    assert(got == Set((0L, 1L, 1L), (1L, 2L, 2L), (3L, 8L, 1L)))
  }
}
