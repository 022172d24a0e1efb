package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite

/** Hand-built fixtures for the operator semantics the oracles can't
  * isolate: known-answer graphs for the triangle count, the
  * click-before-view trap in the ordered funnel, and deterministic
  * tie-breaks in changelog compaction. Each test materializes a tiny
  * table dir and drives the REAL registered query end-to-end.
  */
class OperatorSemanticsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def fixtureDir(name: String): String = {
    val dir = s"target/op_semantics/$name"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    dir
  }

  test("graph_triangles counts K4 exactly and ignores the isolated edge") {
    import spark.implicits._
    // order 100 co-orders parts 1..4 -> K4 (4 triangles, 6 edges, each
    // vertex degree 3 -> 12 wedges, clustering 3*4/12 = 1.0); order 200
    // adds an isolated edge {5,6} (no wedges, no triangles)
    val li = Seq((100L, 1L), (100L, 2L), (100L, 3L), (100L, 4L),
      (200L, 5L), (200L, 6L))
      .toDF("l_orderkey", "l_partkey")
    val dir = fixtureDir("k4")
    li.write.parquet(s"$dir/lineitem.parquet")
    val r = SparkEntry.queries("graph_triangles")(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_nodes") == 6)
    assert(r.getAs[Long]("n_edges") == 7)
    assert(r.getAs[Long]("n_wedges") == 12)
    assert(r.getAs[Long]("n_triangles") == 4)
    assert(r.getAs[Double]("clustering_coeff") == 1.0)
  }

  test("graph_triangles on an edgeless order book yields the zero census") {
    import spark.implicits._
    // every order has exactly ONE item -> no co-order pairs at all; the
    // pipeline must produce the empty-graph row, not crash or emit nulls
    // where the oracle would emit counts
    val li = Seq((1L, 10L), (2L, 20L), (3L, 30L))
      .toDF("l_orderkey", "l_partkey")
    val dir = fixtureDir("tri_empty")
    li.write.parquet(s"$dir/lineitem.parquet")
    val r = SparkEntry.queries("graph_triangles")(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_nodes") == 0)
    assert(r.getAs[Long]("n_triangles") == 0)
    // SQL sum over zero rows is NULL in both engines -> edges/wedges and
    // the clustering ratio are null, identically on the oracle side
    // (the twin computes n_edges as sum(d)/2 over deg — NOT count(*),
    // which would be 0 here and break the hash compare)
    assert(r.isNullAt(r.fieldIndex("n_edges")))
    assert(r.isNullAt(r.fieldIndex("n_wedges")))
    assert(r.isNullAt(r.fieldIndex("clustering_coeff")))
  }

  test("graph_triangles_sampled estimators scale by the sampling denominator") {
    import spark.implicits._
    // dense-ish deterministic fixture (hash sample, no RNG): order 1 ->
    // K4 over parts 100..103, order 2 -> K4 over 200..203, order 3 ->
    // K31 clique over 300..330 (435 edges, C(31,3)=4495 triangles)
    val li2 = (Seq.tabulate(4)(i => (1L, 100L + i)) ++
      Seq.tabulate(4)(i => (2L, 200L + i)) ++
      Seq.tabulate(31)(i => (3L, 300L + i)))
      .toDF("l_orderkey", "l_partkey")
    val dir = fixtureDir("tri_sampled")
    li2.write.parquet(s"$dir/lineitem.parquet")
    val exact = SparkEntry.queries("graph_triangles")(spark, dir).collect()(0)
    val r = SparkEntry.benchOnly("graph_triangles_sampled")(spark, dir)
      .collect()(0)
    val d = 4L
    // internal consistency: the *_est columns are exactly the sampled
    // counts scaled by d, d², d³ (the DOULION estimators)
    assert(r.getAs[Long]("n_edges_est") == r.getAs[Long]("n_edges_sampled") * d)
    assert(r.getAs[Long]("n_triangles_est") ==
      r.getAs[Long]("n_triangles_sampled") * d * d * d)
    // sanity vs the exact run: sample keeps a nonzero subgraph of the
    // K31's 435 edges, and the estimate lands within a loose factor of
    // the true 4 + 4 + C(31,3) triangle count (deterministic hash — this
    // is a fixed number, the bound just avoids pinning it)
    val trueT = exact.getAs[Long]("n_triangles")
    assert(r.getAs[Long]("n_edges_sampled") > 0)
    val est = r.getAs[Long]("n_triangles_est")
    assert(est >= 0 && est <= trueT * 8,
      s"estimate $est implausible vs true $trueT")
  }

  private def ts(minute: Int) =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  private def eventsDf(rows: (Long, Timestamp, Long, String, Double)*) = {
    import spark.implicits._
    rows.toSeq.toDF("event_id", "ts", "user_id", "event_type", "value")
  }

  test("funnel_stages: a click BEFORE the first view must not convert") {
    // user 1: click@10:00, view@10:05, click@10:10, purchase@10:15 —
    // the naive per-stage min(ts) would take the 10:00 click and then
    // reject the funnel (click < view); the correct chained definition
    // picks the 10:10 click. user 2 views only.
    val ev = eventsDf(
      (1L, ts(0), 1L, "click", 1.0),
      (2L, ts(5), 1L, "view", 1.0),
      (3L, ts(10), 1L, "click", 1.0),
      (4L, ts(15), 1L, "purchase", 1.0),
      (5L, ts(0), 2L, "view", 1.0))
    val dir = fixtureDir("funnel")
    ev.write.parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("funnel_stages")(spark, dir).collect()
    val byStage = rows.map(r => r.getAs[Int]("stage") ->
      (r.getAs[Long]("n_reached"), r.getAs[Double]("conv_from_prev"))).toMap
    assert(byStage(1) == ((2L, 1.0)))   // both users reach view
    assert(byStage(2) == ((1L, 0.5)))   // only user 1's 10:10 click counts
    assert(byStage(3) == ((1L, 1.0)))   // ...and converts to purchase
  }

  test("latest_snapshot breaks equal-ts ties by event_id, keeps max") {
    // user 1 has two events at the SAME timestamp: (ts, event_id) order
    // must pick event_id 2 ('b'); user 2's later event wins over earlier
    val ev = eventsDf(
      (1L, ts(0), 1L, "a", 1.0),
      (2L, ts(0), 1L, "b", 2.0),
      (3L, ts(0), 2L, "a", 5.0),
      (4L, ts(9), 2L, "c", 7.0))
    val dir = fixtureDir("latest")
    ev.write.parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("latest_snapshot")(spark, dir).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_users"),
        r.getAs[Double]("sum_value")))
    assert(rows.toSet == Set(("b", 1L, 2.0), ("c", 1L, 7.0)))
  }

  test("stream_sessions merges events EXACTLY SessionGapSec apart") {
    // Pins the inclusive-merge boundary the oracle restatement assumes:
    // session_window spans [ts, ts+gap) and Spark merges windows that
    // exactly TOUCH, so two events precisely gap seconds apart are ONE
    // session — matching the SQL's `gap_sec > gap` break (1800 is not
    // > 1800). If Spark's merge were exclusive these fixtures would
    // split into two sessions and this assertion, not a production
    // hash mismatch, is where the divergence surfaces.
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    def plus(sec: Long) = new Timestamp(t0.getTime + sec * 1000L)
    val ev = eventsDf(
      (1L, t0, 1L, "view", 1.0),
      (2L, plus(1800L), 1L, "view", 1.0),  // exactly the gap: merges
      (3L, t0, 2L, "view", 1.0),
      (4L, plus(1801L), 2L, "view", 1.0))  // one past the gap: splits
    val dir = fixtureDir("sess_boundary")
    // single FILE, not a parquet dir: the stream stage symlinks
    // <dir>/events.parquet and FileStreamSource does not recurse into a
    // linked directory
    ev.coalesce(1).write.parquet(s"$dir/events.parquet.dir")
    val part = new java.io.File(s"$dir/events.parquet.dir").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val r = SparkEntry.queries("stream_sessions")(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_sessions") == 3,
      s"expected u1 merged + u2 split = 3 sessions, got $r")
    assert(r.getAs[Long]("n_users") == 2)
    assert(r.getAs[Long]("max_session_events") == 2)
    // durations: u1's merged session spans 1800 s; u2's two singletons 0
    assert(r.getAs[Double]("avg_session_dur_sec") == 600.0)
  }

  test("partition_prune on an empty events table yields the empty census") {
    // empty fixture: no partitions get written and the min-day probe is
    // null — the query must return zero rows (with the right schema),
    // not NPE on the collect or fail schema inference on a fileless dir
    val ev = eventsDf().limit(0)
    val dir = fixtureDir("pp_empty")
    ev.coalesce(1).write.parquet(s"$dir/events.parquet.dir")
    val part = new java.io.File(s"$dir/events.parquet.dir").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val out = SparkEntry.queries("partition_prune")(spark, dir)
    assert(out.columns.toSeq == Seq("day", "n", "sum_value"))
    assert(out.count() == 0)
  }

  test("cdc_merge outcomes partition the key space exactly") {
    import spark.implicits._
    // keys 0..29: key%10==3 -> updated (+100), key%13==4 -> deleted
    // (overrides the update on key 43-style collisions; none here),
    // suppliers re-key above the base space -> inserted
    val base = (0L until 30L).map(k => (k, k * 1.0)).toDF("c_custkey", "c_acctbal")
    val sup = Seq((1L, 10.0), (2L, 20.0)).toDF("s_suppkey", "s_acctbal")
    val dir = fixtureDir("cdc")
    base.write.parquet(s"$dir/customer.parquet")
    sup.write.parquet(s"$dir/supplier.parquet")
    val rows = SparkEntry.queries("cdc_merge")(spark, dir).collect()
      .map(r => r.getAs[String]("outcome") -> r.getAs[Long]("n")).toMap
    // updates: 3,13,23 ... but 4,17 deleted (4%13=4, 17%13=4, 30 excl.)
    assert(rows("updated") == 3)   // 3, 13, 23
    assert(rows("deleted") == 2)   // 4, 17
    assert(rows("inserted") == 2)  // suppliers
    assert(rows("carried") == 30 - 3 - 2)
  }

  test("stream output is state-store-partition-count independent") {
    // shuffle.partitions fixes a streaming query's state-store count at
    // start; the bench runs stream_* at a state-sized count (4) while a
    // deployment uses a cluster-sized one — legitimate ONLY because the
    // result is identical at any count. Drive the heaviest stateful
    // query (interval join) and a windowed agg at two counts and
    // compare full row sets.
    val dir = SparkTestSession.sfDir
    def rows(q: String, parts: String): Seq[String] = {
      val prev = sys.props.get("graft.stream.partitions")
      sys.props("graft.stream.partitions") = parts
      try SparkEntry.queries(q)(spark, dir)
        .collect().map(_.toString).sorted.toSeq
      finally prev match {
        case Some(v) => sys.props("graft.stream.partitions") = v
        case None => sys.props.remove("graft.stream.partitions")
      }
    }
    for (q <- Seq("stream_join", "stream_windows")) {
      val a = rows(q, "4")
      val b = rows(q, "7")
      assert(a.nonEmpty && a == b,
        s"$q output differs across state-store counts (${a.length} vs ${b.length} rows)")
    }
  }

  test("state-store count auto-sizes from streamed input bytes") {
    // measured crossover (r12, paired windows): 4 stores optimal at
    // sf0.1-size input, 8 at sf1-size; the sizing reads the table's
    // on-disk bytes against a 4 MB threshold
    assert(operators.StreamingQueries.sizedStatePartitions(
      SparkTestSession.sfDir, "events") == 4) // test SFs are tiny
    assert(operators.StreamingQueries.sizedStatePartitions(
      "/nonexistent/dir", "events") == 4) // unreadable input: small default
    val big = java.nio.file.Files.createTempDirectory("graft-state-size")
    val f = big.resolve("events.parquet")
    val ch = java.nio.file.Files.newByteChannel(f,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    try { ch.position((5L << 20) - 1); ch.write(java.nio.ByteBuffer.wrap(Array(0.toByte))) }
    finally ch.close()
    assert(operators.StreamingQueries.sizedStatePartitions(big.toString, "events") == 8)
    // a query that stages only a slice sizes from the streamed fraction,
    // not the whole table (stream_profile's % mod < keep filter)
    assert(operators.StreamingQueries.sizedStatePartitions(
      big.toString, "events", streamedFraction = 1.0 / 8) == 4)
    java.nio.file.Files.delete(f); java.nio.file.Files.delete(big)
  }

  test("query functions restore session confs they tune (no leak class)") {
    import spark.implicits._
    // graph_triangles raises objectHashAggregate.sortBased.fallbackThreshold
    // for its adjacency builds; stream_* queries resize shuffle.partitions
    // for state-store count. Either leaking means the NEXT query inherits a
    // knob sized for someone else's plan (round-11 ADVICE low).
    val thresholdKey =
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val shuffleKey = "spark.sql.shuffle.partitions"
    val aqeKey = "spark.sql.adaptive.enabled"
    val cpKey = "spark.sql.constraintPropagation.enabled"
    val li = Seq((100L, 1L), (100L, 2L), (100L, 3L), (100L, 4L))
      .toDF("l_orderkey", "l_partkey")
    val dir = fixtureDir("conf_leak")
    li.write.parquet(s"$dir/lineitem.parquet")
    // each key is set explicitly to a value that differs from the scope's
    // own: first a non-default one (a restore that unsets, or resets to
    // the default, shows), then its default (a leak of the scope's value
    // shows). The session's own settings can match a scope's value, so
    // comparing against them alone would not catch a leak.
    val scoped = Seq[(String, String, Seq[String], () => Unit)](
      ("graph_triangles", thresholdKey, Seq("64", "128"), () => {
        val r = SparkEntry.queries("graph_triangles")(spark, dir).collect()(0)
        assert(r.getAs[Long]("n_triangles") == 4)
      }),
      ("stream_windows", shuffleKey, Seq("3", "200"), () =>
        SparkEntry.queries("stream_windows")(spark, SparkTestSession.sfDir)
          .collect()),
      ("Profiler.profile", aqeKey, Seq("false", "true"), () =>
        profiler.Profiler.profile(li)),
      ("quality_classifier", aqeKey, Seq("false", "true"), () =>
        SparkEntry.queries("quality_classifier")(spark, SparkTestSession.sfDir)
          .collect()),
      ("connectedComponents", cpKey, Seq("false", "true"), () =>
        graph.GraphProfiler.connectedComponents(
          Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("src", "dst"),
          smallGraphCap = 0).collect()))
    for ((name, key, values, run) <- scoped; value <- values)
      SessionConfs.withConf(spark, key, value) {
        run()
        assert(spark.conf.get(key) == value, s"$name leaked $key")
      }
  }

  test("embed_drift cosines match the hand-computed axis fixture") {
    import spark.implicits._
    // label 0 = three copies of e1, label 1 = one e2: global centroid is
    // (0.75, 0.25, 0, ...), so cos(e1, g) = 0.75/√0.625 = 0.948683 and
    // cos(e2, g) = 0.25/√0.625 = 0.316228; both centroids are unit norm
    def axis(i: Int) =
      (0 until 64).map(d => if (d == i) 1.0f else 0.0f).toArray
    val vecs = Seq(
      (1L, axis(0), 0), (2L, axis(0), 0), (3L, axis(0), 0),
      (4L, axis(1), 1))
      .toDF("vec_id", "embedding", "label")
    val dir = fixtureDir("axis_drift")
    vecs.write.parquet(s"$dir/embeddings.parquet")
    val rows = SparkEntry.queries("embed_drift")(spark, dir)
      .collect().map(r => r.getAs[Int]("label") -> r).toMap
    assert(rows(0).getAs[Long]("n_vecs") == 3)
    assert(rows(0).getAs[Double]("centroid_norm") == 1.0)
    assert(rows(0).getAs[Double]("cos_to_global") == 0.948683)
    assert(rows(1).getAs[Long]("n_vecs") == 1)
    assert(rows(1).getAs[Double]("cos_to_global") == 0.316228)
  }

  test("chunk_overlap closed forms match hand-computed windows (C=32, S=24)") {
    import spark.implicits._
    // dl=10 -> 1 chunk (tail: 10 < 32); dl=32 -> 1 full chunk (no tail);
    // dl=33 -> 2 chunks, last = 33-24 = 9 (tail), chunk toks 32+9 = 41;
    // dl=80 -> 3 chunks, last = 80-48 = 32 (no tail), chunk toks 96;
    // empty + NULL text rows must vanish (dl filter) on BOTH engines
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, words(10), "en", "s", 10L), (2L, words(32), "en", "s", 32L),
      (3L, words(33), "en", "s", 33L), (4L, words(80), "en", "s", 80L),
      (5L, "", "en", "s", 0L), (6L, null: String, "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = fixtureDir("chunker")
    docs.write.parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("chunk_overlap")(spark, dir).collect()
    assert(r.length == 1)
    val row = r(0)
    assert(row.getAs[Long]("n_docs") == 4)
    assert(row.getAs[Long]("n_tokens") == 155)
    assert(row.getAs[Long]("n_chunks") == 7)
    assert(row.getAs[Long]("chunk_tokens") == 179)
    assert(row.getAs[Long]("dup_tokens") == 24)
    assert(row.getAs[Long]("n_tail") == 2)
  }

  test("scd2_build opens intervals on change, closes on next change, " +
    "breaks same-ts ties on event_id") {
    import spark.implicits._
    def ts(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    // user 1: A A B A -> A[0,2) closed 2h, B[2,3) closed 1h, A[3,_) open
    // user 2: C -> open
    // user 3: same ts, event_id order A(10) then B(11) -> A closed 0h,
    //   B open (the tie-break is the semantics under test)
    val ev = Seq(
      (1L, ts(0), 1L, "A", 1.0, ""), (2L, ts(1), 1L, "A", 1.0, ""),
      (3L, ts(2), 1L, "B", 1.0, ""), (4L, ts(3), 1L, "A", 1.0, ""),
      (5L, ts(0), 2L, "C", 1.0, ""),
      (10L, ts(0), 3L, "A", 1.0, ""), (11L, ts(0), 3L, "B", 1.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = fixtureDir("scd2")
    ev.write.parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("scd2_build")(spark, dir)
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    assert(rows.keySet == Set("A", "B", "C"))
    assert(rows("A").getAs[Long]("n_intervals") == 3)
    assert(rows("A").getAs[Long]("n_open") == 1)
    assert(rows("A").getAs[Double]("avg_closed_hours") == 1.0) // (2h+0h)/2
    assert(rows("B").getAs[Long]("n_intervals") == 2)
    assert(rows("B").getAs[Long]("n_open") == 1)
    assert(rows("B").getAs[Double]("avg_closed_hours") == 1.0)
    assert(rows("C").getAs[Long]("n_intervals") == 1)
    assert(rows("C").getAs[Long]("n_open") == 1)
    assert(rows("C").isNullAt(rows("C").fieldIndex("avg_closed_hours")))
  }

  test("kanon_census counts classes, suppression rows and homogeneity " +
    "by hand (incl. negative-balance floor)") {
    import spark.implicits._
    // QI = (nation, floor(acctbal/1000)); sensitive = mktsegment.
    // class (1,0): 3 rows all "X"  -> sz 3, homogeneous
    // class (1,1): rows "X","Y"    -> sz 2, diverse
    // class (2,0): 1 row "X"       -> sz 1, homogeneous
    // class (3,-1): acctbal -500 -> floor(-0.5) = -1 (NOT 0 — the
    //   truncation-vs-floor trap), 1 row, homogeneous
    val cust = Seq(
      (1, 100.0, "X"), (1, 900.0, "X"), (1, 999.0, "X"),
      (1, 1000.0, "X"), (1, 1999.0, "Y"),
      (2, 0.0, "X"),
      (3, -500.0, "X"))
      .toDF("c_nationkey", "c_acctbal", "c_mktsegment")
    val dir = fixtureDir("kanon")
    cust.write.parquet(s"$dir/customer.parquet")
    val rows = SparkEntry.queries("kanon_census")(spark, dir)
      .collect().map(r => r.getAs[Long]("k") -> r).toMap
    assert(rows.keySet == Set(2L, 5L, 10L, 25L, 1000000L))
    // k=2: only the two singleton classes are below
    assert(rows(2L).getAs[Long]("n_classes_below") == 2)
    assert(rows(2L).getAs[Long]("n_rows_below") == 2)
    assert(rows(2L).getAs[Long]("n_homog_below") == 2)
    // k=5 and above: all four classes, 7 rows, 3 homogeneous
    for (k <- Seq(5L, 10L, 25L, 1000000L)) {
      assert(rows(k).getAs[Long]("n_classes_below") == 4)
      assert(rows(k).getAs[Long]("n_rows_below") == 7)
      assert(rows(k).getAs[Long]("n_homog_below") == 3)
    }
  }

  test("ts_resample OHLC: open/close follow (ts, event_id) order incl. " +
    "same-ts ties") {
    import spark.implicits._
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // one hour bucket: open = value at the earliest (ts,event_id),
    // close = latest; two events share ts(0) -> event_id breaks the tie
    val ev = Seq(
      (2L, ts(0), 1L, "A", 5.0, ""), (1L, ts(0), 1L, "A", 3.0, ""),
      (3L, ts(30), 2L, "A", 9.0, ""), (4L, ts(59), 1L, "A", 1.0, ""),
      (5L, ts(5), 1L, "B", 7.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = fixtureDir("ohlc")
    ev.write.parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("ts_resample")(spark, dir)
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    val a = rows("A")
    assert(a.getAs[Double]("open") == 3.0) // event_id 1 wins the ts tie
    assert(a.getAs[Double]("close") == 1.0)
    assert(a.getAs[Double]("high") == 9.0 && a.getAs[Double]("low") == 1.0)
    assert(a.getAs[Long]("n") == 4 && a.getAs[Double]("volume") == 18.0)
    assert(rows("B").getAs[Double]("open") == 7.0)
    assert(rows("B").getAs[Double]("close") == 7.0)
  }

  test("label_agreement kappa obeys its bounds and chance correction") {
    val r = SparkEntry.queries("label_agreement")(
      spark, SparkTestSession.sfDir).collect()(0)
    val n = r.getAs[Long]("n"); val agree = r.getAs[Long]("agree")
    val po = r.getAs[Double]("po"); val pe = r.getAs[Double]("pe")
    val kappa = r.getAs[Double]("kappa")
    assert(n > 0 && agree <= n)
    assert(math.abs(po - agree.toDouble / n) < 1e-6)
    assert(pe > 0.0 && pe < 1.0) // both raters emit >1 label here
    // chance correction can only shrink the raw agreement
    assert(kappa <= po + 1e-9 && kappa >= -1.0 && kappa <= 1.0)
  }

  test("dp_release is replay-deterministic and clipping caps any one " +
    "row's influence at DpClip") {
    import spark.implicits._
    val base = Seq(
      (1, 100.0, "X"), (1, 200.0, "X"), (1, 5000.0, "X"),
      (2, -50000.0, "Y")) // clipped to -10000
    def write(rows: Seq[(Int, Double, String)], name: String): String = {
      val dir = fixtureDir(name)
      rows.toDF("c_nationkey", "c_acctbal", "c_mktsegment")
        .write.parquet(s"$dir/customer.parquet")
      dir
    }
    val dirA = write(base, "dpA")
    val a1 = SparkEntry.queries("dp_release")(spark, dirA).collect()
    val a2 = SparkEntry.queries("dp_release")(spark, dirA).collect()
    assert(a1.toSeq == a2.toSeq) // seeded mechanism: replay burns no budget
    val byNation = a1.map(r => r.getInt(0) -> r).toMap
    // count noise for b = 1/eps = 1 on a 32-bit uniform is bounded by
    // ln(2^32) ≈ 22.18; the release must stay in that envelope
    assert(math.abs(byNation(1).getAs[Double]("noisy_n") - 3.0) < 23.0)
    assert(math.abs(byNation(2).getAs[Double]("noisy_n") - 1.0) < 23.0)
    // swap one balance 5000 -> 1e9: the clipped release moves by exactly
    // clip(1e9) - 5000 = 5000 (same nation key -> identical noise draw)
    val dirB = write(base.updated(2, (1, 1.0e9, "X")), "dpB")
    val b = SparkEntry.queries("dp_release")(spark, dirB).collect()
      .map(r => r.getInt(0) -> r).toMap
    val shift = b(1).getAs[Double]("noisy_sum_bal") -
      byNation(1).getAs[Double]("noisy_sum_bal")
    assert(math.abs(shift - 5000.0) < 1e-6)
    // nation 2's -50000 clipped to -10000: noisy sum sits within the
    // noise envelope (b = 10000/eps) of -10000, not of -50000
    assert(math.abs(b(2).getAs[Double]("noisy_sum_bal") - -10000.0) <
      10000.0 * 23.0)
  }

  test("batch_pack on uniform lengths pads zero under both orderings") {
    import spark.implicits._
    // every doc is 7 tokens: any batch's count*max - sum is exactly 0,
    // so both assembly orders must report zero waste on every shard
    // while the ceil(n/B) batch arithmetic still exercises ragged tails
    val docs = (1L to 40L).map(i =>
      (i, "a b c d e f g", "en", "s", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = fixtureDir("uniform_batches")
    docs.write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("batch_pack")(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("n_docs")).sum == 40)
    rows.foreach { r =>
      assert(r.getAs[Long]("pad_sorted") == 0 &&
        r.getAs[Long]("pad_naive") == 0, s"uniform lengths padded: $r")
      assert(r.getAs[Long]("n_batches") ==
        (r.getAs[Long]("n_docs") + 15) / 16)
    }
  }

  test("sample_weighted with uniform weights reduces to the md5 permutation") {
    import spark.implicits._
    // equal n_chars => priority u/w orders exactly like the bare md5
    // draw, so the kept set is the deterministic top-k permutation and
    // kept chars are exactly k*w; sources under k keep everything
    val docs = ((1L to 25L).map(i => (i, "t", "en", "big", 40L)) ++
      (100L to 103L).map(i => (i, "t", "en", "small", 40L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = fixtureDir("uniform_weights")
    docs.write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("sample_weighted")(spark, dir)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(rows("big").getAs[Long]("n_kept") == 10)
    assert(rows("big").getAs[Long]("chars_kept") == 400)
    assert(rows("small").getAs[Long]("n_kept") == 4)
    assert(rows("small").getAs[Long]("chars_kept") ==
      rows("small").getAs[Long]("chars_total"))
  }
}
