package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import scala.util.Random

/** Randomized invariants for the graph-analytics operators: the
  * distributed plans (checkpointed fixed-point iteration, degree-capped
  * self-join) must reproduce a straight-line sequential reference exactly
  * on random graphs with self-loops, literals, duplicate edges, and hub
  * nodes — the integer-arithmetic design claims BIT-exact equality, not
  * approximate agreement, so that is what these assert. */
class GraphPropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** Random triple table: IRIs n0..n{nodes-1}, ~20% literal objects,
    * self-loops and duplicate edges included (both must be ignored or
    * deduped by the operators). */
  private def randomTriples(seed: Int, nodes: Int, edges: Int): Seq[(String, String, Byte, String)] = {
    val r = new Random(seed)
    (0 until edges).map { _ =>
      val s = s"n${r.nextInt(nodes)}"
      if (r.nextInt(5) == 0) (s, "p", 2.toByte, s"lit ${r.nextInt(10)}")
      else (s, "p", 0.toByte, s"n${r.nextInt(nodes)}")
    }
  }

  test("hubScores: distributed fixed point == sequential reference, bit-exact") {
    import spark.implicits._
    for (seed <- Seq(11, 12, 13)) {
      val rows = randomTriples(seed, nodes = 30, edges = 150)
      val df = rows.toDF("subj", "pred", "objKind", "objValue")
      val iters = 4
      val got = GraphMaterialize.hubScores(df, iterations = iters)
        .as[(String, Long)].collect().toMap

      // sequential reference over the same edge multiset
      val edges = rows.collect { case (s, _, k, o) if k == 0 && s != o => (s, o) }.distinct
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
      val outDeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
      var score = nodes.map(_ -> 1000000000L).toMap
      for (_ <- 1 to iters) {
        val in = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
        edges.foreach { case (s, d) => in(d) += score(s) / outDeg(s) }
        score = nodes.map(n => n -> (150000000L + 85L * in(n) / 100L)).toMap
      }
      assert(got == score, s"seed=$seed")
    }
  }

  test("personalizedPageRank: seeded fixed point == sequential reference, bit-exact") {
    import spark.implicits._
    for (seed <- Seq(21, 22)) {
      val rows = randomTriples(seed, nodes = 30, edges = 150)
      val df = rows.toDF("subj", "pred", "objKind", "objValue")
      val seeds = Seq("n0", "n1")
      val iters = 4
      val got = GraphMaterialize.personalizedPageRank(df, seeds, iterations = iters)
        .as[(String, Long)].collect().toMap

      val edges = rows.collect { case (s, _, k, o) if k == 0 && s != o => (s, o) }.distinct
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
      val outDeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
      val seedSet = seeds.toSet
      var score = nodes.map(n => n -> (if (seedSet(n)) 1000000000L else 0L)).toMap
      for (_ <- 1 to iters) {
        val in = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
        edges.foreach { case (s, d) => in(d) += score(s) / outDeg(s) }
        score = nodes.map(n =>
          n -> ((if (seedSet(n)) 150000000L else 0L) + 85L * in(n) / 100L)).toMap
      }
      assert(got == score, s"seed=$seed")
      // teleport-free nodes unreachable from the seeds must stay at 0
      val reach = {
        var f = seedSet; var done = false
        while (!done) {
          val nf = f ++ edges.collect { case (s, d) if f(s) => d }
          done = nf == f; f = nf
        }
        f
      }
      nodes.filterNot(reach).foreach(n => assert(got(n) == 0L, s"seed=$seed node=$n"))
    }
  }

  test("hitsScores: distributed max-rescaled fixed point == sequential reference, bit-exact") {
    import spark.implicits._
    for (seed <- Seq(31, 32, 33)) {
      val rows = randomTriples(seed, nodes = 30, edges = 150)
      val df = rows.toDF("subj", "pred", "objKind", "objValue")
      val iters = 3
      val got = GraphMaterialize.hitsScores(df, iterations = iters)
        .as[(String, Long, Long)].collect()
        .map { case (n, a, h) => n -> ((a, h)) }.toMap

      val edges = rows.collect { case (s, _, k, o) if k == 0 && s != o => (s, o) }.distinct
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
      var hub = nodes.map(_ -> 1000000L).toMap
      var auth = nodes.map(_ -> 0L).toMap
      for (_ <- 1 to iters) {
        val ar = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
        edges.foreach { case (s, d) => ar(d) += hub(s) }
        val amax = math.max(if (ar.isEmpty) 0L else ar.values.max, 1L)
        auth = nodes.map(n => n -> ar(n) * 1000000L / amax).toMap
        val hr = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
        edges.foreach { case (s, d) => hr(s) += auth(d) }
        val hmax = math.max(if (hr.isEmpty) 0L else hr.values.max, 1L)
        hub = nodes.map(n => n -> hr(n) * 1000000L / hmax).toMap
      }
      val expect = nodes.map(n => n -> ((auth(n), hub(n)))).toMap
      assert(got == expect, s"seed=$seed")
      // the rescale pins each half-step's max at exactly 1e6
      assert(got.values.map(_._1).max === 1000000L, s"seed=$seed auth max")
      assert(got.values.map(_._2).max === 1000000L, s"seed=$seed hub max")
    }
  }

  test("entityCoOccurrence: degree-capped pair counts == sequential reference") {
    import spark.implicits._
    for (seed <- Seq(21, 22, 23)) {
      val rows = randomTriples(seed, nodes = 15, edges = 200)
      val df = rows.toDF("subj", "pred", "objKind", "objValue")
      val (cap, minS) = (6, 2L)
      val got = GraphMaterialize.entityCoOccurrence(df, maxDegree = cap, minSubjects = minS)
        .as[(String, String, Long)].collect().toSet

      val po = rows.collect { case (s, _, k, o) if k == 0 && s != o => (s, o) }.distinct
      val kept = po.groupBy(_._1).filter(_._2.size <= cap).values.flatten.toSeq
      val pairs = kept.groupBy(_._1).values.flatMap { es =>
        val objs = es.map(_._2).sorted
        for (i <- objs.indices; j <- (i + 1) until objs.size) yield (objs(i), objs(j))
      }.toSeq
      val expect = pairs.groupBy(identity).collect {
        case ((a, b), ps) if ps.size >= minS => (a, b, ps.size.toLong)
      }.toSet
      assert(got == expect, s"seed=$seed")
      // structural invariants: canonical order, count bounded by subjects
      got.foreach { case (a, b, n) =>
        assert(a < b, s"seed=$seed pair not canonical: $a,$b")
        assert(n <= kept.map(_._1).distinct.size, s"seed=$seed impossible count $n")
      }
    }
  }

  test("triangleCounts: degree-oriented enumeration == sequential reference") {
    import spark.implicits._
    for (seed <- Seq(131, 132, 133)) {
      val rows = randomTriples(seed, nodes = 25, edges = 300)
      val df = rows.toDF("subj", "pred", "objKind", "objValue")
      val got = GraphMaterialize.triangleCounts(df)
        .as[(String, Long, Long)].collect().toSet

      // sequential reference: undirected simple graph, brute-force a<b<c
      val und = rows.collect { case (s, _, k, o) if k == 0 && s != o =>
        (Seq(s, o).min, Seq(s, o).max)
      }.distinct
      val undSet = und.toSet
      val nodes = (und.map(_._1) ++ und.map(_._2)).distinct
      val deg = nodes.map(n => n -> und.count(e => e._1 == n || e._2 == n).toLong).toMap
      val sorted = nodes.sorted
      val tris = for {
        i <- sorted.indices; j <- (i + 1) until sorted.size; k <- (j + 1) until sorted.size
        (x, y, z) = (sorted(i), sorted(j), sorted(k))
        if undSet((x, y)) && undSet((y, z)) && undSet((x, z))
      } yield (x, y, z)
      val perNode = tris.flatMap(t => Seq(t._1, t._2, t._3))
        .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
      val expect = nodes.map(n => (n, perNode.getOrElse(n, 0L), deg(n))).toSet
      assert(got == expect, s"seed=$seed")
      // global triangle mass: corner counts sum to 3 × triangle count
      assert(got.toSeq.map(_._2).sum == 3L * tris.size, s"seed=$seed")
    }
  }

  test("hostGraph: host quotient == sequential reference") {
    import spark.implicits._
    for (seed <- Seq(141, 142, 143)) {
      val r = new Random(seed)
      // IRIs with real hosts, plus bnodes and literals that must drop out
      def iri() = s"https://h${r.nextInt(6)}.example/e/${r.nextInt(20)}"
      val rows = (0 until 300).map { _ =>
        val s = if (r.nextInt(8) == 0) s"_:b${r.nextInt(10)}" else iri()
        if (r.nextInt(5) == 0) (s, "p", 2.toByte, s"lit ${r.nextInt(10)}")
        else (s, "p", 0.toByte, if (r.nextInt(8) == 0) s"_:b${r.nextInt(10)}" else iri())
      }
      val df = rows.toDF("subj", "pred", "objKind", "objValue")
      val got = GraphMaterialize.hostGraph(df)
        .as[(String, String, Long, Long)].collect().toSet

      val hostOf = "^https?://([^/]+)/".r
      def host(s: String): String =
        hostOf.findFirstMatchIn(s).map(_.group(1)).getOrElse("")
      val kept = rows.collect { case (s, _, k, o) if k == 0 => (host(s), host(o), s) }
        .filter { case (sh, dh, _) => sh.nonEmpty && dh.nonEmpty && sh != dh }
      val expect = kept.groupBy(x => (x._1, x._2)).map { case ((sh, dh), xs) =>
        (sh, dh, xs.size.toLong, xs.map(_._3).distinct.size.toLong)
      }.toSet
      assert(got == expect, s"seed=$seed")
      // quotient conservation: edge mass equals the kept cross-host edges
      assert(got.toSeq.map(_._3).sum == kept.size, s"seed=$seed")
    }
  }

  test("anchorTextConsensus: majority anchor == sequential reference") {
    import spark.implicits._
    for (seed <- Seq(151, 152, 153)) {
      val r = new Random(seed)
      // few hrefs × few anchor strings → real count ties to break
      val rows = (0 until 400).map { _ =>
        (s"https://s${r.nextInt(50)}.example/p", s"https://t${r.nextInt(12)}.example/p",
          s"text ${r.nextInt(4)}")
      }
      val df = rows.toDF("src_url", "href", "anchor")
      val got = GraphMaterialize.anchorTextConsensus(df)
        .as[(String, String, Long, Long)].collect().toSet

      val expect = rows.groupBy(_._2).map { case (href, xs) =>
        val counts = xs.groupBy(_._3).map { case (a, ys) => (a, ys.size.toLong) }
        val top = counts.toSeq.maxBy { case (a, c) => (c, a) }._1
        (href, top, xs.size.toLong, counts.size.toLong)
      }.toSet
      assert(got == expect, s"seed=$seed")
    }
  }

  /** Full-width random triples (7 columns) with sameAs equivalence
    * assertions woven in: chains, duplicates, a literal-object sameAs
    * (must be ignored), self sameAs (dropped), mixed datatypes/langs and
    * a second named graph. */
  private def randomFullTriples(seed: Int, nodes: Int, edges: Int, sameAs: Int)
      : Seq[(String, String, Byte, String, String, String, String)] = {
    val r = new Random(seed)
    val same = "http://schema.org/sameAs"
    val regular = (0 until edges).map { _ =>
      val s = s"n${r.nextInt(nodes)}"
      val g = if (r.nextInt(4) == 0) "g1" else "@default"
      r.nextInt(5) match {
        case 0 => (s, s"p${r.nextInt(3)}", 2.toByte, s"lit ${r.nextInt(10)}",
          "http://www.w3.org/2001/XMLSchema#integer", null, g)
        case 1 => (s, s"p${r.nextInt(3)}", 2.toByte, s"lit ${r.nextInt(10)}", null, "en", g)
        case _ => (s, s"p${r.nextInt(3)}", 0.toByte, s"n${r.nextInt(nodes)}", null, null, g)
      }
    }
    val eq = (0 until sameAs).map { _ =>
      (s"n${r.nextInt(nodes)}", same, 0.toByte, s"n${r.nextInt(nodes)}",
        null: String, null: String, "@default")
    }
    val junk = Seq(
      (s"n0", same, 2.toByte, "n1", null: String, null: String, "@default"), // literal obj: ignored
      (s"n2", same, 0.toByte, "n2", null: String, null: String, "@default"), // self: dropped
      ("_:b7", same, 0.toByte, "n3", null: String, null: String, "@default")) // bnode subj: excluded (review r5)
    regular ++ eq ++ junk ++ eq.take(sameAs / 2) // duplicated assertions
  }

  test("sameAsMerge: distributed merge == sequential union-find reference") {
    import spark.implicits._
    val same = "http://schema.org/sameAs"
    for (seed <- Seq(31, 32, 33)) {
      val rows = randomFullTriples(seed, nodes = 40, edges = 300, sameAs = 25)
      val df = rows.toDF("subj", "pred", "objKind", "objValue",
        "objDatatype", "objLang", "graph")
      val got = GraphMaterialize.sameAsMerge(df)
        .as[(String, String, Byte, String, Option[String], Option[String], String)]
        .collect().toSet

      // sequential union-find, representative = min id in class
      // (bnode subjects excluded, mirroring the operator — review r5)
      val eqEdges = rows.collect {
        case (s, p, k, o, _, _, _)
          if p == same && k == 0 && s != o && !s.startsWith("_:") => (s, o)
      }
      val parent = scala.collection.mutable.Map[String, String]()
      def find(x: String): String = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      eqEdges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      def rep(x: String) = find(x)
      val expect = rows.collect {
        case (s, p, k, o, dt, lg, g) if p != same =>
          (rep(s), p, k, if (k == 0) rep(o) else o, Option(dt), Option(lg), g)
      }.toSet
      assert(got == expect, s"seed=$seed")
      // no sameAs assertions survive; every surviving id is a representative
      assert(!got.exists(_._2 == same), s"seed=$seed")
      got.foreach { case (s, _, k, o, _, _, _) =>
        assert(rep(s) == s, s"seed=$seed non-canonical subj $s")
        if (k == 0) assert(rep(o) == o, s"seed=$seed non-canonical obj $o")
      }
    }
  }

  test("temporalIntervals: distributed SCD2 == sequential reference") {
    import spark.implicits._
    for (seed <- Seq(51, 52, 53)) {
      val r = new Random(seed)
      // observation streams with repeats, same-ts collisions, value
      // flip-flops, and kind changes under one lexical value
      val rows = (0 until 400).map { _ =>
        (s"n${r.nextInt(12)}", s"p${r.nextInt(3)}",
          (if (r.nextInt(6) == 0) 0 else 2).toByte,
          s"v${r.nextInt(4)}", 1000L + r.nextInt(8) * 100L)
      }
      val df = rows.toDF("subj", "pred", "objKind", "objValue", "warc_ts")
      val got = GraphMaterialize.temporalIntervals(df)
        .as[(String, String, Byte, String, Long, Option[Long])]
        .collect().toSet

      val expect = rows.groupBy(x => (x._1, x._2)).toSeq.flatMap { case ((s, p), os) =>
        val ordered = os.map(o => (o._5, o._4, o._3)).sortBy(x => (x._1, x._2, x._3))
        // runs over (value, kind)
        val runs = scala.collection.mutable.ArrayBuffer.empty[(Byte, String, Long)]
        var prev: Option[(String, Byte)] = None
        ordered.foreach { case (ts, v, k) =>
          if (!prev.contains((v, k))) { runs += ((k, v, ts)); prev = Some((v, k)) }
        }
        runs.toSeq.zipWithIndex.map { case ((k, v, from), i) =>
          val to = if (i + 1 < runs.size) Some(runs(i + 1)._3) else None
          (s, p, k, v, from, to)
        }
      }.toSet
      assert(got == expect, s"seed=$seed")
      // intervals for one key chain: each valid_to equals the next
      // valid_from, exactly one open interval per (subj, pred)
      got.groupBy(x => (x._1, x._2)).foreach { case (k, ivs) =>
        assert(ivs.count(_._6.isEmpty) == 1, s"seed=$seed $k open-interval count")
        // same-ts distinct values yield degenerate [t, t) runs that share
        // valid_from — the open interval (None → MaxValue) sorts last
        val sorted = ivs.toSeq.sortBy(x => (x._5, x._6.getOrElse(Long.MaxValue)))
        sorted.sliding(2).foreach {
          case Seq(a, b) => assert(a._6.contains(b._5), s"seed=$seed $k gap")
          case _ =>
        }
      }
    }
  }

  test("schemaGraph: quotient summary == sequential reference") {
    import spark.implicits._
    for (seed <- Seq(61, 62, 63)) {
      val rows = randomFullTriples(seed, nodes = 20, edges = 300, sameAs = 5)
      val df = rows.toDF("subj", "pred", "objKind", "objValue",
        "objDatatype", "objLang", "graph")
      val got = GraphMaterialize.schemaGraph(df)
        .as[(String, String, String, Long)].collect().toSet

      val cs = rows.groupBy(_._1).map { case (s, rs) =>
        s -> rs.map(_._2).distinct.sorted.mkString("|")
      }
      val expect = rows
        .collect { case (s, p, k, o, _, _, _) if k == 0 || k == 1 =>
          (cs(s), p, cs.getOrElse(o, "(leaf)"))
        }
        .groupBy(identity).map { case (e, xs) => (e._1, e._2, e._3, xs.size.toLong) }
        .toSet
      assert(got == expect, s"seed=$seed")
      // edge mass is conserved: summary counts add up to the edge count
      assert(got.toSeq.map(_._4).sum ==
        rows.count(x => x._3 == 0 || x._3 == 1), s"seed=$seed")
    }
  }

  test("applyDelta inverts snapshotDelta on random snapshot pairs") {
    import spark.implicits._
    for (seed <- Seq(71, 72, 73)) {
      val a = randomFullTriples(seed, nodes = 25, edges = 250, sameAs = 5)
      val b = randomFullTriples(seed + 100, nodes = 25, edges = 230, sameAs = 3)
      val cols = Seq("subj", "pred", "objKind", "objValue",
        "objDatatype", "objLang", "graph")
      val da = a.toDF(cols: _*)
      val db = b.toDF(cols: _*)
      val got = GraphMaterialize.applyDelta(
        da, GraphMaterialize.snapshotDelta(da, db))
        .as[(String, String, Byte, String, Option[String], Option[String], String)]
        .collect().toSet
      val expect = b.map { case (s, p, k, o, dt, lg, g) =>
        (s, p, k, o, Option(dt), Option(lg), g)
      }.toSet
      assert(got == expect, s"seed=$seed")
    }
  }

  test("denseEntityIds: bijection onto 0..n-1 in entity sort order") {
    import spark.implicits._
    for (seed <- Seq(81, 82); parts <- Seq(1, 7)) {
      val rows = randomFullTriples(seed, nodes = 30, edges = 200, sameAs = 8)
      val df = rows.toDF("subj", "pred", "objKind", "objValue",
        "objDatatype", "objLang", "graph")
      val got = GraphTrain.denseEntityIds(df, partitions = parts)
        .as[(String, Long)].collect().toMap
      val ents = (rows.map(_._1) ++
        rows.collect { case (_, _, k, o, _, _, _) if k == 0 || k == 1 => o })
        .distinct.sorted
      val expect = ents.zipWithIndex.map { case (e, i) => e -> i.toLong }.toMap
      assert(got == expect, s"seed=$seed parts=$parts")
    }
  }

  test("negativeSamples: distributed sampling == sequential reference") {
    import spark.implicits._
    for (seed <- Seq(91, 92, 93)) {
      val rows = randomFullTriples(seed, nodes = 20, edges = 180, sameAs = 4)
      val df = rows.toDF("subj", "pred", "objKind", "objValue",
        "objDatatype", "objLang", "graph")
      val k = 3
      val got = GraphTrain.negativeSamples(df, GraphTrain.denseEntityIds(df, 5), k)
        .as[(String, String, String, String, Int)].collect().toSet

      val ents = (rows.map(_._1) ++
        rows.collect { case (_, _, kk, o, _, _, _) if kk == 0 || kk == 1 => o })
        .distinct.sorted
      val id = ents.zipWithIndex.map { case (e, i) => e -> i.toLong }.toMap
      val n = ents.size.toLong
      val edges = rows.collect {
        case (s, p, kk, o, _, _, _) if kk == 0 || kk == 1 => (s, p, o)
      }.distinct
      val trueSet = edges.toSet
      val expect = (for {
        (s, p, o) <- edges
        i <- 0 until k
      } yield {
        val negId = (id(s) + (i + 1) * 2654435761L + p.length * 97L) % n
        (s, p, o, ents(negId.toInt), i)
      }).filterNot(x => trueSet.contains((x._1, x._2, x._4))).toSet
      assert(got == expect, s"seed=$seed")
      // no emitted negative is a true edge; stride bound holds
      got.foreach { case (s, p, _, neg, i) =>
        assert(!trueSet.contains((s, p, neg)), s"seed=$seed true edge leaked")
        assert(i >= 0 && i < k, s"seed=$seed bad i=$i")
      }
    }
  }

  test("entityFeatures: feature table == sequential reference") {
    import spark.implicits._
    val typePred = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    for (seed <- Seq(101, 102)) {
      val r = new Random(seed)
      val base = randomFullTriples(seed, nodes = 20, edges = 200, sameAs = 4)
      // weave in type assertions so primary_type has real ties to break
      val typed = base ++ (0 until 30).map { _ =>
        (s"n${r.nextInt(20)}", typePred, 0.toByte, s"T${r.nextInt(3)}",
          null: String, null: String, "@default")
      }
      val df = typed.toDF("subj", "pred", "objKind", "objValue",
        "objDatatype", "objLang", "graph")
      val got = GraphTrain.entityFeatures(df)
        .as[(String, Long, Long, Long, Long, Option[String])].collect().toSet

      val subjAgg = typed.groupBy(_._1).map { case (s, rs) =>
        s -> (rs.size.toLong, rs.map(_._2).distinct.size.toLong,
          rs.count(_._3 == 2).toLong,
          rs.collect { case (_, p, k, o, _, _, _) if p == typePred && k == 0 => o }
            .sorted.headOption)
      }
      val inDeg = typed.filter(x => x._3 == 0 || x._3 == 1)
        .groupBy(_._4).map { case (o, rs) => o -> rs.size.toLong }
      val allEnts = subjAgg.keySet ++ inDeg.keySet
      val expect = allEnts.map { e =>
        val (od, np, nl, pt) = subjAgg.getOrElse(e, (0L, 0L, 0L, None))
        (e, od, inDeg.getOrElse(e, 0L), np, nl, pt)
      }
      assert(got == expect, s"seed=$seed")
    }
  }

  test("randomWalks: distributed walk corpus == sequential reference") {
    import spark.implicits._
    for (seed <- Seq(121, 122)) {
      val rows = randomFullTriples(seed, nodes = 25, edges = 220, sameAs = 6)
      val df = rows.toDF("subj", "pred", "objKind", "objValue",
        "objDatatype", "objLang", "graph")
      val (k, steps, maxDeg) = (2, 3, 8)
      val got = GraphTrain.randomWalks(df, k, steps, maxDeg)
        .as[(String, Int, Int, String)].collect().toSet

      val allNbrs = rows.collect {
        case (s, _, kk, o, _, _, _) if (kk == 0 || kk == 1) && s != o => (s, o)
      }.distinct.groupBy(_._1)
        .map { case (s, es) => s -> es.map(_._2).distinct.sorted }
      // extension uses the CAPPED map; starts use every edge source, so
      // over-cap hubs still emit step-0 rows (review r5b)
      val nbrMap = allNbrs.filter(_._2.size <= maxDeg)
      val expect = (for {
        start <- allNbrs.keys.toSeq
        w <- 0 until k
      } yield {
        var node = start
        var alive = true
        (start, w, 0, node) +: (1 to steps).flatMap { t =>
          if (!alive) Nil
          else nbrMap.get(node) match {
            case Some(ns) =>
              val pick = ((w.toLong * 2654435761L + t.toLong * 40503L +
                node.length.toLong * 97L) % ns.size).toInt
              node = ns(pick)
              Seq((start, w, t, node))
            case None => alive = false; Nil
          }
        }
      }).flatten.toSet
      assert(got == expect, s"seed=$seed")
      // walk-shape invariants: one node per (start, w, step); prefixes
      // are contiguous (a step-t row implies a step-(t-1) row)
      val byWalk = got.groupBy(x => (x._1, x._2))
      byWalk.values.foreach { ws =>
        assert(ws.size == ws.map(_._3).size, "duplicate step in a walk")
        val stepsPresent = ws.map(_._3)
        (1 to stepsPresent.max).foreach(t =>
          assert(stepsPresent.contains(t - 1), "gap in walk prefix"))
      }
    }
  }

  test("characteristicSets: distributed census == sequential reference") {
    import spark.implicits._
    for (seed <- Seq(41, 42, 43)) {
      val rows = randomFullTriples(seed, nodes = 25, edges = 250, sameAs = 10)
      val df = rows.toDF("subj", "pred", "objKind", "objValue",
        "objDatatype", "objLang", "graph")
      val got = GraphMaterialize.characteristicSets(df)
        .as[(String, Long, Long)].collect().toSet

      val bySubj = rows.groupBy(_._1).toSeq.map { case (_, rs) =>
        (rs.map(_._2).distinct.sorted.mkString("|"), rs.size.toLong)
      }
      val expect = bySubj.groupBy(_._1).map { case (cs, xs) =>
        (cs, xs.size.toLong, xs.map(_._2).sum)
      }.toSet
      assert(got == expect, s"seed=$seed")
      // the census partitions the corpus: subjects and triples both add up
      assert(got.toSeq.map(_._2).sum == rows.map(_._1).distinct.size, s"seed=$seed")
      assert(got.toSeq.map(_._3).sum == rows.size, s"seed=$seed")
    }
  }

  /** Sequential synchronous LPA over an undirected simple edge list, the
    * identical update rule as the engine: most frequent neighbor label,
    * ties to the lexically smallest. */
  private def seqLpa(edges: Seq[(String, String)], rounds: Int): Map[String, String] = {
    val sym = (edges ++ edges.map(_.swap)).distinct
    val adj = sym.groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    var labels = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      labels = adj.map { case (n, nbrs) =>
        val counts = nbrs.groupBy(labels).map { case (l, xs) => (l, xs.size) }
        n -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    labels
  }

  test("labelPropagation: synchronous rounds == sequential reference") {
    import spark.implicits._
    for (seed <- Seq(51, 52, 53)) {
      val rows = randomTriples(seed, nodes = 25, edges = 120)
      val df = rows.toDF("subj", "pred", "objKind", "objValue")
      for (rounds <- Seq(1, 4)) {
        val got = GraphMaterialize.labelPropagation(df, rounds)
          .as[(String, String)].collect().toMap
        val und = rows.collect { case (s, _, k, o) if k == 0 && s != o =>
          if (s < o) (s, o) else (o, s)
        }.distinct
        assert(got == seqLpa(und, rounds), s"seed=$seed rounds=$rounds")
      }
    }
  }

  /** Sequential k-core peel: drop nodes of degree < k until stable;
    * return each survivor's in-core degree. */
  private def seqKCore(edges: Seq[(String, String)], k: Int): Map[String, Long] = {
    var live = (edges.map(_._1) ++ edges.map(_._2)).distinct.toSet
    var stable = false
    var deg = Map.empty[String, Long]
    while (!stable) {
      val e = edges.filter { case (a, b) => live(a) && live(b) }
      deg = (e.map(_._1) ++ e.map(_._2)).groupBy(identity)
        .map { case (n, xs) => n -> xs.size.toLong }
      val next = deg.filter(_._2 >= k).keySet
      stable = next == live
      live = next
    }
    deg.filter { case (n, d) => live(n) && d >= k }
  }

  test("kCore: distributed peel == sequential reference") {
    import spark.implicits._
    for (seed <- Seq(61, 62, 63); k <- Seq(2, 3)) {
      val rows = randomTriples(seed, nodes = 30, edges = 90)
      val df = rows.toDF("subj", "pred", "objKind", "objValue")
      val got = GraphMaterialize.kCore(df, k)
        .as[(String, Long)].collect().toMap
      val und = rows.collect { case (s, _, kk, o) if kk == 0 && s != o =>
        if (s < o) (s, o) else (o, s)
      }.distinct
      assert(got == seqKCore(und, k), s"seed=$seed k=$k")
    }
  }

  test("kCore: a graph whose k-core is empty returns an empty frame, no throw") {
    import spark.implicits._
    // a path graph has no 2-core (every peel removes the endpoints)
    val rows = (0 until 6).map(i => (s"n$i", "p", 0.toByte, s"n${i + 1}"))
    val df = rows.toDF("subj", "pred", "objKind", "objValue")
    assert(GraphMaterialize.kCore(df, k = 2).count() == 0L)
  }

  test("kCore: a peel longer than maxRounds fails loud instead of truncating") {
    import spark.implicits._
    // a 20-node path peels its two endpoints per round: 10 rounds to empty
    val rows = (0 until 19).map(i => (s"n$i", "p", 0.toByte, s"n${i + 1}"))
    val df = rows.toDF("subj", "pred", "objKind", "objValue")
    val e = intercept[IllegalStateException](GraphMaterialize.kCore(df, k = 2, maxRounds = 3))
    assert(e.getMessage.contains("kCore(k=2)") && e.getMessage.contains("3 rounds"), e.getMessage)
  }

  test("kCore: the seeded KG corpus reaches its 2-core fixpoint within 3 rounds") {
    // the q_kg_kcore oracle unrolls the peel a fixed 6 rounds; the engine
    // early-exits at the fixpoint. This pins the convergence margin the
    // oracle relies on: the aux corpus (KgPages pages, seed 42) converges
    // in <= 3 rounds, so 6 = convergence + slack and a corpus drift that
    // slowed the peel would fail HERE, not silently in CORRECTNESS.
    import spark.implicits._
    val pages = PageGen.pages(spark, graft.AuxTables.KgPages, seed = 42L, partitions = 8)
    val triples = TripleEmit.pipeline(pages).toDF().localCheckpoint(true)
    val capped = GraphMaterialize.kCore(triples, k = 2, maxRounds = 3)
      .as[(String, Long)].collect().toMap
    val free = GraphMaterialize.kCore(triples, k = 2)
      .as[(String, Long)].collect().toMap
    assert(capped == free)
    assert(capped.nonEmpty, "the seeded corpus should have a non-trivial 2-core")
  }
}
