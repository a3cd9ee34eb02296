package graft

import graft.api.GraftOps
import org.apache.spark.sql.functions._

/** Semantic laws for the graph / event-analytics / quantization operators
  * that the hash gate proves only point-wise: PageRank's integer-mass
  * fixpoint and ranking behavior, session/interval tiling invariants, and
  * quantizer faithfulness.
  */
class GraphEventOpsSpec extends SparkSpec {

  private val M0 = 1000000000000L

  test("pageRank: a regular symmetric graph is an exact integer fixpoint") {
    import spark.implicits._
    // triangle — every node has degree 2, so each round a node ships
    // 2·floor(85%·m/2) and receives the same back plus the teleport:
    // 2·425e9 + 150e9 = 1e12 = initMass, exactly, every iteration.
    val edges = Seq("a" -> "b", "b" -> "a", "b" -> "c", "c" -> "b",
      "a" -> "c", "c" -> "a").toDF("src", "dst")
    val m = GraftOps.pageRank(edges, 3, M0).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m.keySet === Set("a", "b", "c"))
    assert(m.values.forall(_ == M0), s"regular graph drifted: $m")
  }

  test("pageRank: star center out-ranks leaves; floors only shrink mass") {
    import spark.implicits._
    val leaves = (1 to 4).map(i => s"l$i")
    val edges = leaves.flatMap(l => Seq("x" -> l, l -> "x")).toDF("src", "dst")
    val m = GraftOps.pageRank(edges, 3, M0).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val leafMasses = leaves.map(m)
    assert(leafMasses.distinct.size === 1, "symmetric leaves must tie")
    assert(m("x") > leafMasses.head, "hub must out-rank leaves")
    // teleport floor is a hard lower bound; total mass never grows
    assert(m.values.forall(_ >= M0 * 15L / 100L))
    assert(m.values.sum <= 5 * M0)
  }

  test("bfsDistances: exact hop counts on a path graph; bounded horizon") {
    import spark.implicits._
    // path a-b-c-d-e plus isolated pair f-g (symmetrized)
    val und = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e", "f" -> "g")
    val edges = und.flatMap { case (x, y) => Seq(x -> y, y -> x) }
      .toDF("src", "dst")
    val src = Seq("a").toDF("node")
    val d2 = GraftOps.bfsDistances(edges, src, rounds = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // horizon bound: only nodes within 2 hops appear
    assert(d2 === Map("a" -> 0L, "b" -> 1L, "c" -> 2L))
    val d4 = GraftOps.bfsDistances(edges, src, rounds = 4).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(d4 === Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L, "e" -> 4L))
    // 9 rounds crosses the every-8th-round truncation barrier
    val d9 = GraftOps.bfsDistances(edges, src, rounds = 9).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(d9 === d4)
    // the f-g component is unreachable at any horizon: no sentinel rows
    assert(!d4.contains("f") && !d4.contains("g"))
  }

  test("bfsDistances: multi-source takes the nearest source; cycles settle") {
    import spark.implicits._
    // 6-cycle with sources at opposite corners: max distance is 1 hop
    // from the nearer source, and the min-merge never loops mass around
    val n = Array("a", "b", "c", "d", "e", "f")
    val edges = (0 until 6).flatMap { i =>
      val (x, y) = (n(i), n((i + 1) % 6)); Seq(x -> y, y -> x)
    }.toDF("src", "dst")
    val src = Seq("a", "d").toDF("node")
    val got = GraftOps.bfsDistances(edges, src, rounds = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> 0L, "d" -> 0L, "b" -> 1L, "c" -> 1L,
      "e" -> 1L, "f" -> 1L))
  }

  test("ssspDistances: cheaper two-hop beats direct edge; horizon bounds") {
    import spark.implicits._
    // a-b direct costs 10; a-c-b costs 2 — round 1 must report 10,
    // round 2 must improve to 2 (the relaxation BFS can't express)
    val und = Seq(("a", "b", 10L), ("a", "c", 1L), ("c", "b", 1L))
    val edges = und.flatMap { case (x, y, w) => Seq((x, y, w), (y, x, w)) }
      .toDF("src", "dst", "w")
    val src = Seq("a").toDF("node")
    val r1 = GraftOps.ssspDistances(edges, src, rounds = 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r1 === Map("a" -> 0L, "b" -> 10L, "c" -> 1L))
    val r2 = GraftOps.ssspDistances(edges, src, rounds = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r2 === Map("a" -> 0L, "b" -> 2L, "c" -> 1L))
  }

  test("q_sessionize: sessions partition each user's events at >30min gaps") {
    val gapUs = 30L * 60L * 1000000L
    val sessions = SparkEntry.queries("q_sessionize")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val byUser = Tables.events(spark, sf)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    // expected session count per user = 1 + number of over-gap steps
    val expected = byUser.view.mapValues { ts =>
      1L + ts.sliding(2).count(p => p.size == 2 && p(1) - p(0) > gapUs)
    }.toMap
    val got = sessions.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    assert(got === expected)
    // events are partitioned: per-user session sizes sum to the event count
    val sizes = sessions.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(sizes === byUser.view.mapValues(_.size.toLong).toMap)
    // a session never contains an internal over-gap step (duration bound:
    // n_events-1 steps of <= gap each)
    sessions.foreach { case (_, _, n, _, dur) =>
      assert(dur <= (n - 1) * gapUs, "session spans an over-gap step")
    }
  }

  test("q_scd2: intervals tile, states alternate, one current row per user") {
    val rows = SparkEntry.queries("q_scd2")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getLong(4),
        r.getInt(5)))
    rows.groupBy(_._1).foreach { case (u, rs) =>
      val hist = rs.sortBy(_._5)
      assert(hist.map(_._5).toSeq === (1L to hist.length).toSeq,
        s"user $u versions not dense")
      assert(hist.count(_._6 == 1) === 1, s"user $u: != 1 current row")
      assert(hist.last._6 === 1 && hist.last._4.isEmpty,
        s"user $u: current row must be the open-ended last version")
      hist.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4.contains(b._3), s"user $u: intervals do not tile")
          assert(a._2 != b._2, s"user $u: consecutive versions share state")
        case _ => ()
      }
    }
  }

  test("quantizeInt8: codes bounded, max component hits ±127, zero guard") {
    import spark.implicits._
    val q = GraftOps.quantizeInt8(Tables.embeddings(spark, sf),
      col("vec_id"), col("embedding"))
    val bad = q.filter(exists(col("qvec"),
      c => abs(c) > 127 || c.isNull)).count()
    assert(bad === 0, "code outside int8 range")
    // scale-faithful: the max-|x| component must quantize to exactly ±127
    val nofull = q.filter(col("maxabs") > 0.0)
      .filter(!exists(col("qvec"), c => abs(c) === 127)).count()
    assert(nofull === 0, "some vector never reaches ±127 (wrong scale)")
    val z = Seq((1L, Array(0f, 0f, 0f))).toDF("vec_id", "embedding")
    val zq = GraftOps.quantizeInt8(z, col("vec_id"), col("embedding"))
      .select(col("qvec")).as[Seq[Long]].head()
    assert(zq === Seq(0L, 0L, 0L))
  }

  test("quantizedTopK equals the all-rows window top-k on the same codes") {
    import org.apache.spark.sql.expressions.Window
    val q = GraftOps.quantizeInt8(Tables.embeddings(spark, sf),
      col("vec_id"), col("embedding"))
    val got = GraftOps.quantizedTopK(q.filter(col("vec_id") >= 8),
      q.filter(col("vec_id") < 8), k = 5)
    val qdot = aggregate(zip_with(col("qvec"), col("pq"), _ * _),
      lit(0L), _ + _)
    val brute = q.filter(col("vec_id") >= 8)
      .crossJoin(q.filter(col("vec_id") < 8)
        .select(col("vec_id").as("probe_id"), col("qvec").as("pq")))
      .select(col("probe_id"), col("vec_id"), qdot.as("qdot"))
      .withColumn("rank", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(col("qdot").desc, col("vec_id"))).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("probe_id"), col("vec_id"), col("qdot"), col("rank"))
    assert(got.except(brute).isEmpty && brute.except(got).isEmpty)
  }

  test("groupMedian (distribution walk) equals Spark's buffered percentile") {
    val docs = Tables.documents(spark, sf)
    val got = GraftOps.groupMedian(docs, col("source"), col("n_chars"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exp = docs.groupBy(col("source"))
      .agg(expr("percentile(cast(n_chars as double), 0.5)").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got === exp)
  }

  test("outlierMad flags exactly |x - med| > 3*MAD") {
    val out = SparkEntry.queries("x_outlier_mad")(spark, sf).collect()
      .map(r => (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getInt(5)))
    assert(out.nonEmpty)
    out.foreach { case (x, med, mad, flag) =>
      assert((math.abs(x - med) > 3 * mad) === (flag == 1))
    }
  }

  test("q_sql_recursive: depth_to_root is the key's decimal digit count") {
    val rows = SparkEntry.queries("q_sql_recursive")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (k, depth, pathSum) =>
      // key 0 fails the recursion guard immediately: depth stays 0
      val expDepth = if (k == 0) 0L else k.toString.length.toLong
      assert(depth === expDepth, s"key $k")
      // path_sum = k + k/10 + k/100 + ... + 0 (exact integer walk)
      val expSum = Iterator.iterate(k)(_ / 10).takeWhile(_ > 0).sum
      assert(pathSum === expSum, s"key $k")
    }
  }

  test("q_gapfill: contiguous spine, LOCF values, gaps flagged exactly") {
    val rows = SparkEntry.queries("q_gapfill")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, _, v, _) => !v.isNaN })
    val obs = Tables.events(spark, sf).filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_id"), col("value"),
        unix_micros(col("ts")).as("us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    rows.groupBy(_._1).foreach { case (u, series) =>
      val hrs = series.map(_._2).sorted
      assert((hrs.head to hrs.last).toIndexedSeq === hrs.toIndexedSeq,
        s"user $u spine has holes")
      val evs = obs.filter(_._1 == u)
      series.foreach { case (_, hr, v, gap) =>
        // LOCF: the value must be the latest observation at or before hr
        val upTo = evs.filter(_._4 / 3600000000L <= hr)
        val expected = upTo.maxBy(e => (e._4, e._2))._3
        assert(v === expected, s"user $u hr $hr")
        val inHour = evs.exists(_._4 / 3600000000L == hr)
        assert((gap == 0) === inHour, s"user $u hr $hr gap flag")
      }
    }
  }

  test("hits: rescale pins each kind's max to scale; sides stay disjoint") {
    import spark.implicits._
    val edges = Seq(("c1", "s1"), ("c1", "s2"), ("c2", "s1"),
      ("c3", "s1"), ("c3", "s3")).toDF("src", "dst")
    val out = GraftOps.hits(edges, iters = 2, scale = 1000000L).collect()
    val hubs = out.filter(_.getString(1) == "hub")
    val auths = out.filter(_.getString(1) == "auth")
    // integer rescale: (mx * scale) div mx == scale exactly
    assert(hubs.map(_.getLong(2)).max === 1000000L)
    assert(auths.map(_.getLong(2)).max === 1000000L)
    assert(hubs.map(_.getString(0)).toSet === Set("c1", "c2", "c3"))
    assert(auths.map(_.getString(0)).toSet === Set("s1", "s2", "s3"))
    // s1 has the highest in-degree from the strongest hubs -> top auth
    assert(auths.maxBy(_.getLong(2)).getString(0) === "s1")
    // c1 and c3 both touch two suppliers incl. s1; c2 touches one ->
    // c2 must rank strictly below both
    val h = hubs.map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(h("c2") < h("c1") && h("c2") < h("c3"))
  }

  test("kcorePeel matches a plain-Scala peel on seeded random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 4) {
      val n = 20 + rnd.nextInt(30)
      val und = (for (_ <- 1 to n * 2) yield {
        val a = rnd.nextInt(n); val b = rnd.nextInt(n)
        if (a < b) Some((s"n$a", s"n$b")) else if (b < a) Some((s"n$b", s"n$a"))
        else None
      }).flatten.distinct
      val k = 2 + rnd.nextInt(2)
      // 9 rounds crosses the every-8th-round truncation barrier
      for (rounds <- if (trial == 1) Seq(3, 9) else Seq(3)) {
        // reference: identical bounded peel over an adjacency map
        var adj = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
        for (_ <- 1 to rounds) {
          val deg = adj.groupBy(_._1).view.mapValues(_.size).toMap
          val keep = deg.filter(_._2 >= k).keySet
          adj = adj.filter { case (a, b) => keep(a) && keep(b) }
        }
        val expected = adj.groupBy(_._1).view.mapValues(_.size.toLong).toMap
        val edges = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
          .toDF("src", "dst")
        val got = GraftOps.kcorePeel(edges, k, rounds).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(got === expected, s"trial $trial (n=$n, k=$k, rounds=$rounds)")
      }
    }
  }

  test("hits matches a plain-Scala computation on seeded random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val scale = 1000000L
    for (trial <- 1 to 4) {
      val nc = 3 + rnd.nextInt(5); val ns = 2 + rnd.nextInt(4)
      val es = (for (_ <- 1 to nc * ns) yield
        (s"c${rnd.nextInt(nc)}", s"s${rnd.nextInt(ns)}")).distinct
      // reference: same integer half-steps over Maps
      var hub = es.map(_._1).distinct.map(_ -> scale).toMap
      var auth = Map.empty[String, Long]
      for (_ <- 1 to 2) {
        val araw = es.groupBy(_._2).view
          .mapValues(_.map(e => hub.getOrElse(e._1, 0L)).sum).toMap
          .filter(_._2 > 0)
        val amx = araw.values.max
        auth = araw.view.mapValues(v => v * scale / amx).toMap
        val hraw = es.groupBy(_._1).view
          .mapValues(_.map(e => auth.getOrElse(e._2, 0L)).sum).toMap
          .filter(_._2 > 0)
        val hmx = hraw.values.max
        hub = hraw.view.mapValues(v => v * scale / hmx).toMap
      }
      val expected = hub.map { case (k, v) => (k, "hub", v) }.toSet ++
        auth.map { case (k, v) => (k, "auth", v) }
      val got = GraftOps.hits(es.toDF("src", "dst"), iters = 2, scale)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSet
      assert(got === expected, s"trial $trial (nc=$nc, ns=$ns)")
    }
  }

  test("hits fails loud when maxdeg·scale² overflows Long") {
    import spark.implicits._
    // deg(x)=2, scale=3e9: raw = 2·scale = 6e9, raw·scale ≈ 1.8e19 wraps
    val edges = Seq(("a", "x"), ("b", "x")).toDF("src", "dst")
    val ex = intercept[Throwable](
      GraftOps.hits(edges, iters = 1, scale = 3000000000L).collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("overflow")),
      s"expected the overflow tripwire, got: ${msgs(ex).mkString(" | ")}")
  }

  test("kcorePeel: survivors shrink with k and with rounds") {
    import spark.implicits._
    // triangle a-b-c (2-core) plus a pendant chain d-e hanging off a
    val und = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"), ("d", "e"))
    val edges = und.flatMap { case (u, v) => Seq((u, v), (v, u)) }
      .toDF("src", "dst")
    val core2 = GraftOps.kcorePeel(edges, k = 2, rounds = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // e (deg 1) peels in round 1, then d (deg 2 -> 1) in round 2;
    // the triangle is the fixpoint and every member keeps degree 2
    assert(core2 === Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
    val core3 = GraftOps.kcorePeel(edges, k = 3, rounds = 3).count()
    assert(core3 === 0L, "no 3-core in a triangle plus a chain")
    // fewer rounds can only keep MORE nodes (peeling is monotone)
    val r1 = GraftOps.kcorePeel(edges, k = 2, rounds = 1)
      .select(col("node")).collect().map(_.getString(0)).toSet
    assert(Set("a", "b", "c").subsetOf(r1))
  }

  test("triangleCounts matches a brute-force triple scan on seeded random graphs") {
    import spark.implicits._
    // integer node ids: the canonical-pair contract (a < b) is in the
    // COLUMN's ordering, and "n10" < "n2" as strings would silently
    // violate it for stringified numerals
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 4) {
      val n = 8 + rnd.nextInt(12)
      val und = (for (_ <- 1 to n * 3) yield {
        val a = rnd.nextInt(n); val b = rnd.nextInt(n)
        if (a < b) Some((a, b)) else if (b < a) Some((b, a)) else None
      }).flatten.distinct
      // reference: enumerate every id-ordered triple, count closures
      val es = und.toSet
      val ids = und.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val triples = for {
        i <- ids.indices; j <- (i + 1) until ids.size; k <- (j + 1) until ids.size
        a = ids(i); b = ids(j); c = ids(k)
        if es((a, b)) && es((a, c)) && es((b, c))
      } yield Seq(a, b, c)
      val expected = triples.flatten.groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
      val got = GraftOps.triangleCounts(und.toDF("a", "b")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(got === expected, s"trial $trial (n=$n, edges=${und.size})")
    }
  }

  test("triangleCounts: K4 gives every node 3, a path gives none") {
    import spark.implicits._
    val k4 = (for (i <- 0 to 3; j <- (i + 1) to 3) yield (s"v$i", s"v$j"))
      .toDF("a", "b")
    val gotK4 = GraftOps.triangleCounts(k4).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotK4 === Map("v0" -> 3L, "v1" -> 3L, "v2" -> 3L, "v3" -> 3L))
    // triangle-free graph -> empty output (zero-count nodes are absent
    // by contract: the result is a participation report, not a node list)
    val path = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("a", "b")
    assert(GraftOps.triangleCounts(path).count() === 0L)
  }

  test("labelPropagate matches a plain-Scala sync propagation and converges to components") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    for (trial <- 1 to 4) {
      val n = 15 + rnd.nextInt(20)
      val und = (for (_ <- 1 to n) yield {
        val a = rnd.nextInt(n); val b = rnd.nextInt(n)
        if (a != b) Some((s"n$a", s"n$b")) else None
      }).flatten.distinct
      val sym = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
      val drawn = 1 + rnd.nextInt(3)
      val adj = sym.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      // 9 rounds crosses the every-8th-round truncation barrier
      for (rounds <- if (trial == 1) Seq(drawn, 9) else Seq(drawn)) {
        // reference: synchronous min-label rounds over an adjacency map
        var lab = adj.keySet.map(v => v -> v).toMap
        for (_ <- 1 to rounds)
          lab = lab.map { case (v, l) => v -> (adj(v).map(lab) :+ l).min }
        val got = GraftOps.labelPropagate(sym.toDF("src", "dst"), rounds)
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
        assert(got === lab, s"trial $trial (n=$n, rounds=$rounds)")
      }
      // at >= diameter rounds the labels are exactly the per-component
      // minima — cross-check against union-find components
      val cc = {
        val parent = scala.collection.mutable.Map[String, String]()
        def find(x: String): String = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        sym.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(Seq(ra, rb).max) = Seq(ra, rb).min
        }
        adj.keySet.map(v => v -> find(v)).toMap
      }
      // find the exact round count the fixpoint needs (≤ diameter), so
      // the Spark run stays minimal — one localCheckpoint per round
      var (ref, needed, stable) = (adj.keySet.map(v => v -> v).toMap, 0, false)
      while (!stable) {
        val next = ref.map { case (v, l) => v -> (adj(v).map(ref) :+ l).min }
        stable = next == ref; ref = next; if (!stable) needed += 1
      }
      val deep = GraftOps.labelPropagate(sym.toDF("src", "dst"),
          rounds = math.max(needed, 1))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      // union-find roots are component minima because merges keep the min
      assert(deep === cc, s"trial $trial fixpoint vs union-find")
    }
  }

  test("dedupNormalized folds case/punctuation/whitespace variants") {
    import spark.implicits._
    val docs = Seq((1L, "Hello, World!"), (2L, "hello world"),
      (3L, "HELLO  world…"), (4L, "different text")).toDF("doc_id", "text")
    val out = GraftOps.dedupNormalized(docs, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(out === Set((1L, 3L, 3L), (4L, 1L, 1L)))
  }
}
