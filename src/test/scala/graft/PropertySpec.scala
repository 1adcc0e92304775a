package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{Normalize, Schemas}

/** Property-based round-trip laws (SURVEY.md §5.4). Each law runs on a
  * handful of generated cases — Spark jobs per case are expensive, the
  * generators cover the structural edge space (empties, extra keys,
  * unicode, duplicates).
  */
class PropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = Session.local(4)

  /** Minimal deterministic forAll: the scalatest/scalacheck bridge module
    * is not in the offline dependency cache, so sample the generator
    * directly — fixed seed, N cases, growing size.
    */
  private def forAll[A](gen: Gen[A], cases: Int = 5)(body: A => Unit): Unit =
    (0 until cases).foreach { i =>
      val a = gen(Gen.Parameters.default.withSize(4 + 4 * i), Seed(42L + i))
        .getOrElse(throw new IllegalStateException("gen failed"))
      body(a)
    }

  private val actionGen: Gen[(String, String)] = for {
    t <- Gen.oneOf("link_click", "page_view", "purchase", "väl-ü")
    v <- Gen.chooseNum(0L, 999999L).map(_.toString)
  } yield (t, v)

  private val rowGen: Gen[(String, Option[List[(String, String)]])] = for {
    id <- Gen.chooseNum(1, 99999).map("a-" + _)
    acts <- Gen.option(Gen.listOf(actionGen))
  } yield (id, acts.map(_.toList))

  private def jsonOf(id: String, acts: Option[List[(String, String)]]): String = {
    val arr = acts.map(_.map { case (t, v) =>
      // extra key exercises T-NEST's key dropping
      s"""{"action_type":"$t","value":"$v","1d_view":"x"}"""
    }.mkString(""""actions":[""", ",", "],")).getOrElse("")
    s"""{"date_start":"1995-03-04","ad_id":"$id","ad_name":"n","adset_id":"s",
       |"adset_name":"sn","campaign_id":"c","campaign_name":"cn",
       |$arr"clicks":"1","impressions":"2","spend":"3.5"}"""
      .stripMargin.replaceAll("\n", "")
  }

  test("law: T-NEST ∘ explode preserves every (action_type, value) pair in order") {
    import spark.implicits._
    forAll(Gen.nonEmptyListOf(rowGen)) { rows =>
      val distinctRows = rows.distinctBy(_._1)
      val raw = spark.read.schema(Schemas.fbInsightsRaw)
        .json(distinctRows.map { case (id, a) => jsonOf(id, a) }.toDS)
      val back = Normalize(raw)
        .select(col("ad_id"), col("actions"))
        .collect()
        .map(r => r.getString(0) ->
          r.getSeq[Row](1).map(x => (x.getString(0), x.getString(1))).toList)
        .toMap
      distinctRows.foreach { case (id, acts) =>
        assert(back(id) === acts.getOrElse(Nil), s"row $id")
      }
    }
  }

  test("law: partitioned write then read is identity on content") {
    import spark.implicits._
    forAll(Gen.nonEmptyListOf(Gen.zip(
      Gen.chooseNum(1, 5), Gen.chooseNum(0L, 1000L)))) { rows =>
      val dir = java.nio.file.Files.createTempDirectory("graft_prop").toString
      val df = rows.zipWithIndex
        .map { case ((p, v), i) => (i.toLong, s"1995-0$p-01", v) }
        .toDF("id", "d", "v")
        .withColumn("d", to_date(col("d")))
      df.write.partitionBy("d").parquet(dir + "/t")
      val back = spark.read.parquet(dir + "/t")
        .select("id", "d", "v").collect().map(_.toSeq).toSet
      assert(back === df.collect().map(_.toSeq).toSet)
    }
  }

  test("law: X-PACK profile matches the sequential reference packing") {
    import spark.implicits._
    val seqLen = llm.Sampling.SeqLen
    forAll(Gen.nonEmptyListOf(Gen.zip(
      Gen.oneOf("s1", "s2"), Gen.chooseNum(1L, 900L)))) { rows =>
      val perDoc = rows.zipWithIndex
        .map { case ((src, n), i) => (src, i.toLong, n) }
      val got = llm.Sampling.packProfile(
          perDoc.toDF("source", "doc_id", "n_tokens"))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
        .toMap
      // sequential reference: walk docs in doc_id order, track offsets
      perDoc.groupBy(_._1).foreach { case (src, docs) =>
        var off = 0L
        var straddlers = 0L
        docs.sortBy(_._2).foreach { case (_, _, n) =>
          if (off / seqLen != (off + n - 1) / seqLen) straddlers += 1
          off += n
        }
        val chunks = (off + seqLen - 1) / seqLen
        val expected = (docs.size.toLong, off, chunks, straddlers, off - (chunks - 1) * seqLen)
        assert(got(src) === expected, s"source $src")
      }
    }
  }

  test("law: X-CMS estimates equal brute-force collision sums and never undercount") {
    import spark.implicits._
    import graft.functions.CountMin
    val M = graft.functions.PolyHashing.Mod
    def ph(s: String, base: Long): Long =
      s.codePoints().toArray.foldLeft(0L)((acc, cp) => (acc * base + cp) % M)
    def cellOf(s: String, base: Long): Int = (ph(s, base) % CountMin.Width).toInt
    forAll(Gen.nonEmptyListOf(Gen.oneOf(
      "alpha", "beta", "gamma", "delta", "ε-ünïcode", "zz"))) { tokens =>
      val toks = tokens.toDF("token")
      def cell(r: Int) =
        pmod(graft.functions.PolyHash.poly_hash(col("token"), CountMin.Bases(r)),
          lit(CountMin.Width.toLong)).cast("int")
      val sketch = toks
        .select(cell(0).as("c0"), cell(1).as("c1"), cell(2).as("c2"), cell(3).as("c3"))
        .select(udaf(CountMin.cms,
          org.apache.spark.sql.Encoders.product[CountMin.Cells])
          .apply(col("c0"), col("c1"), col("c2"), col("c3")).as("s"))
        .head().getSeq[Long](0)
      val freq = tokens.groupBy(identity).view.mapValues(_.size.toLong).toMap
      freq.foreach { case (t, f) =>
        val est = CountMin.Bases.zipWithIndex.map { case (b, r) =>
          sketch(r * CountMin.Width + cellOf(t, b))
        }.min
        val brute = CountMin.Bases.zipWithIndex.map { case (b, r) =>
          freq.collect { case (u, fu) if cellOf(u, b) == cellOf(t, b) => fu }.sum
        }.min
        assert(est === brute, s"token $t: sketch answer must be the collision-sum min")
        assert(est >= f, s"token $t: CMS must never undercount")
      }
    }
  }

  test("law: Q-DAILY-style aggregation invariant under input row order") {
    import spark.implicits._
    forAll(Gen.nonEmptyListOf(Gen.zip(
      Gen.oneOf("c1", "c2", "c3"), Gen.chooseNum(1L, 100L)))) { rows =>
      def agg(rs: List[(String, Long)]) =
        rs.toDF("k", "v").groupBy("k").agg(sum("v").as("s"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(agg(rows) === agg(scala.util.Random.shuffle(rows)))
    }
  }

  test("law: X-EMBED-QUANT error ≤ half a quantization step; order-invariant") {
    import spark.implicits._
    // corpus-wide random dimensionality (NOT pinned to the fixture's 64 —
    // the positional checksum must be size-driven, round 8 hardcoded
    // sequence(1,64) and a non-64-dim input null-padded the fold), with
    // negatives, outliers, and a CONSTANT dim (dim 0) — the degenerate
    // mx==mn guard must pin q=0, not divide by zero
    def vecGen(nd: Int): Gen[Seq[Float]] = for {
      base <- Gen.listOfN(nd - 1, Gen.chooseNum(-5.0, 5.0))
      spike <- Gen.oneOf(0.0, 40.0, -40.0)
    } yield (1.0 +: (base.init :+ (base.last + spike))).map(_.toFloat)
    val corpusGen = for {
      nd <- Gen.chooseNum(4, 96)
      rows <- Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("a", "b"), vecGen(nd)))
    } yield rows
    forAll(corpusGen, cases = 3) { rows =>
      def run(rs: List[(String, Seq[Float])]) =
        llm.Quantize.embedQuantOf(rs.toDF("label", "embedding"))
          .collect().map(_.toSeq).toSeq
      val out = run(rows)
      // bound: worst reconstruction error ≤ half the widest dim's step
      val dims = rows.head._2.indices
      val maxStep = dims.map { d =>
        val xs = rows.map(_._2(d).toDouble)
        (xs.max - xs.min) / 255.0
      }.max
      out.foreach { r =>
        assert(r(3) != null, "sum_qpos must not null-pad on non-64-dim input")
        val worst = r(5).asInstanceOf[Double]
        assert(worst <= maxStep / 2 + 1e-6,
          s"worst_err $worst exceeds half-step bound ${maxStep / 2}")
      }
      // calibration + integer checksums are order-independent
      assert(run(scala.util.Random.shuffle(rows)) === out)
    }
  }

  /** Random canonical edge set over ≤ n nodes: distinct (a < b) pairs. */
  test("law: X-MANN-WHITNEY doubled rank algebra equals the sequential tie-averaged reference") {
    import spark.implicits._
    val sampleGen: Gen[List[(Long, Long)]] =
      Gen.nonEmptyListOf(for {
        v <- Gen.chooseNum(0L, 12L)
        c <- Gen.oneOf(0L, 1L)
      } yield (v, c)).suchThat(s => s.exists(_._2 == 0L) && s.exists(_._2 == 1L))
    forAll(sampleGen, cases = 4) { sample =>
      val df = sample.map { case (v, c) => ("t", v, c) }.toDF("event_type", "cents", "cohort")
      val r = llm.Analytics.mannWhitneyOf(df).head()
      val all = sample.map(_._1).sorted
      // doubled tie-averaged rank of value v: 2·|{< v}| + |{= v}| + 1
      def rank2(v: Long) = 2L * all.count(_ < v) + all.count(_ == v) + 1L
      val r2a = sample.filter(_._2 == 0L).map(x => rank2(x._1)).sum
      val na = sample.count(_._2 == 0L).toLong
      val nb = sample.count(_._2 == 1L).toLong
      val u2a = r2a - na * (na + 1L)
      val tie = all.distinct.map { v =>
        val t = all.count(_ == v).toLong; t * t * t - t
      }.sum
      assert(r.getLong(1) === na && r.getLong(2) === nb)
      assert(r.getLong(3) === u2a, s"2U_a disagrees with the sequential reference on $sample")
      assert(r.getLong(4) === 2L * na * nb - u2a)
      assert(r.getLong(5) === tie)
    }
  }

  test("law: X-THEILSEN median pair equals the brute pair-slope selection") {
    import spark.implicits._
    val seriesGen: Gen[List[(Long, Long)]] =
      Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, 30L), Gen.chooseNum(-50L, 50L)))
        .map(_.groupBy(_._1).map { case (x, ys) => (x, ys.map(_._2).sum) }.toList)
        .suchThat(_.size >= 2)
    forAll(seriesGen, cases = 4) { series =>
      val out = llm.Analytics.theilSenOf(series.toDF("x", "y")).head()
      val pairs = for {
        (xi, yi) <- series; (xj, yj) <- series if xj > xi
      } yield (yj - yi, xj - xi, xi)
      val ordered = pairs.sortBy { case (dy, dx, xi) =>
        (dy.toDouble / dx.toDouble, dy, dx, xi)
      }
      val (mdy, mdx, _) = ordered((ordered.size + 1) / 2 - 1)
      assert(out.getLong(1) === pairs.size.toLong)
      assert((out.getLong(2), out.getLong(3)) === ((mdy, mdx)),
        s"median pair disagrees with brute selection on $series")
    }
  }

  private def edgeGen(maxNodes: Int): Gen[List[(Long, Long)]] =
    Gen.nonEmptyListOf(for {
      a <- Gen.chooseNum(1, maxNodes)
      b <- Gen.chooseNum(1, maxNodes).suchThat(_ != a)
    } yield (math.min(a, b).toLong, math.max(a, b).toLong)).map(_.distinct)

  test("law: X-CONTAINMENT reads 1.0 for a planted subset doc where Jaccard under-scores") {
    import spark.implicits._
    // doc 1 is wholly contained in doc 2 (a quote inside a longer doc):
    // containment(1 in 2) must be exactly 10^6 ppm while Jaccard is small
    val inner = "the quick brown fox jumps over the lazy dog again and again"
    val outer = ("padding head section with plenty of distinct material " * 3) +
      inner + (" trailing filler content that keeps similarity low " * 3)
    val docs = Seq((1L, inner), (2L, outer)).toDF("doc_id", "text")
    val hs = docs.select(col("doc_id"), llm.Dedup.shingleHashes(col("text")).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val common = (hs(1L) & hs(2L)).size.toLong
    assert(common === hs(1L).size.toLong,
      "every shingle of the inner doc appears in the outer doc")
    val contA = common * 1000000L / hs(1L).size
    val jaccard = common * 1000000L / (hs(1L) | hs(2L)).size
    assert(contA === 1000000L && jaccard < 500000L,
      "containment flags the subset pair that symmetric Jaccard under-scores")
  }

  test("law: X-KCORE peel equals the brute sequential fixpoint on random graphs") {
    import spark.implicits._
    forAll(edgeGen(10), cases = 3) { edges =>
      val und = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
        .distinct.toDF("a", "b").cache()
      val got = llm.Graph.kcoreOf(und, k = 2, rounds = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      und.unpersist()
      // brute peel to the fixpoint
      val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
      var alive = adj.keySet
      var changed = true
      while (changed) {
        val next = alive.filter(n => (adj(n) & alive).size >= 2)
        changed = next != alive
        alive = next
      }
      val brute = alive.map(n => (n, (adj(n) & alive).size.toLong))
      assert(got === brute, s"k-core disagrees with the brute peel on $edges")
    }
  }

  test("law: X-CLOSENESS frontier BFS equals sequential multi-source BFS on random graphs") {
    import spark.implicits._
    forAll(edgeGen(10), cases = 3) { edges =>
      val rounds = 6
      val und = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
        .distinct.toDF("a", "b").cache()
      val got = llm.Graph.multiSourceBfs(und, rounds).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      und.unpersist()
      // sequential BFS per source, truncated at the same round budget —
      // the frontier rewrite must discover EXACTLY these pairs at
      // EXACTLY these distances (first discovery = min distance under
      // unit weights, the invariant the anti-join optimization rests on)
      val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
      val nodes = adj.keySet
      val brute = nodes.flatMap { s =>
        var dist = Map(s -> 0L)
        var frontier = Set(s)
        (1 to rounds).foreach { r =>
          val next = frontier.flatMap(adj).diff(dist.keySet)
          dist = dist ++ next.map(_ -> r.toLong)
          frontier = next
        }
        dist.map { case (n, d) => (s, n) -> d }
      }.toMap
      assert(got === brute, s"frontier BFS disagrees with sequential BFS on $edges")
    }
  }

  test("law: X-TRIANGLES equals brute-force 3-clique enumeration on random graphs") {
    import spark.implicits._
    forAll(edgeGen(10), cases = 4) { edges =>
      val row = llm.Graph.trianglesOf(edges.toDF("id_a", "id_b")).head()
      val es = edges.toSet
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val brute = (for {
        i <- nodes; j <- nodes if i < j; k <- nodes if j < k
        if es((i, j)) && es((j, k)) && es((i, k))
      } yield 1).size.toLong
      assert(row.getLong(3) === brute,
        s"oriented wedge count disagrees with brute force on $edges")
      assert(row.getLong(0) === nodes.size.toLong)
      assert(row.getLong(1) === edges.size.toLong)
    }
  }

  test("law: X-DRIFT equals sequential KS on random samples; identical cohorts give 0") {
    import spark.implicits._
    val sampleGen: Gen[List[(Long, Long)]] =
      Gen.nonEmptyListOf(for {
        v <- Gen.chooseNum(0L, 20L)
        c <- Gen.oneOf(0L, 1L)
      } yield (v, c)).suchThat(s => s.exists(_._2 == 0L) && s.exists(_._2 == 1L))
    forAll(sampleGen, cases = 4) { sample =>
      val df = sample.map { case (v, c) => ("t", v, c) }.toDF("event_type", "cents", "cohort")
      val r = llm.Analytics.driftOf(df).head()
      val a = sample.filter(_._2 == 0L).map(_._1)
      val b = sample.filter(_._2 == 1L).map(_._1)
      val d = (a ++ b).distinct.map { v =>
        math.abs(a.count(_ <= v).toLong * b.length - b.count(_ <= v).toLong * a.length)
      }.max
      assert(r.getLong(1) == a.length && r.getLong(2) == b.length && r.getLong(3) == d,
        s"KS core disagrees with the sequential reference on $sample")
    }
    // mirrored cohorts: every value appears once in each -> D = 0
    val eq = (1L to 5L).flatMap(v => Seq(("t", v, 0L), ("t", v, 1L)))
      .toDF("event_type", "cents", "cohort")
    assert(llm.Analytics.driftOf(eq).head().getLong(3) == 0L)
  }

  test("law: X-SHARD cut equals the sequential prefix-sum reference on random corpora") {
    import spark.implicits._
    val corpusGen: Gen[List[(Long, Long, Long)]] =
      Gen.nonEmptyListOf(for {
        id <- Gen.chooseNum(1L, 1000L)
        fp <- Gen.chooseNum(-50L, 50L)
        nt <- Gen.chooseNum(0L, 9L)
      } yield (id, fp, nt))
        .map(_.groupBy(_._1).map(_._2.head).toList) // unique doc ids
        .suchThat(_.map(_._3).sum > 0)
    forAll(corpusGen, cases = 4) { corpus =>
      val out = llm.Sampling.shardManifestOf(
        corpus.toDF("doc_id", "fp", "n_tokens")).collect()
      val total = corpus.map(_._3).sum
      val n = llm.Sampling.NShards.toLong
      // sequential reference: walk (fp, doc_id) order, cut on tokens-before
      var before = 0L
      val ref = scala.collection.mutable.Map.empty[Long, (Long, Long, Long)]
      corpus.sortBy(c => (c._2, c._1)).foreach { case (id, _, nt) =>
        val s = math.min(before * n / total, n - 1)
        val (d, t, ids) = ref.getOrElse(s, (0L, 0L, 0L))
        ref(s) = (d + 1, t + nt, ids + id)
        before += nt
      }
      assert(out.length == ref.size, s"shard count differs on $corpus")
      out.foreach { r =>
        assert(ref(r.getLong(0)) == ((r.getLong(1), r.getLong(2), r.getLong(3))),
          s"shard ${r.getLong(0)} differs from the reference on $corpus")
      }
    }
  }

  test("law: X-PAGERANK conserves probability mass on random weighted graphs") {
    import spark.implicits._
    val wEdgeGen = edgeGen(8).flatMap { es =>
      Gen.listOfN(es.size, Gen.chooseNum(1L, 5L)).map(ws =>
        es.zip(ws).map { case ((a, b), w) => (a, b, w) })
    }
    forAll(wEdgeGen, cases = 3) { edges =>
      // directed as generated (a < b), so high-id sinks are dangling —
      // the redistribution path is exercised on every case
      val r = llm.Graph.pageRankOf(edges.toDF("src", "dst", "w")).collect()
      val mass = r.map(_.getDouble(1)).sum
      assert(math.abs(mass - 1.0) < 1e-9, s"mass $mass drifted on $edges")
      r.foreach(row => assert(row.getDouble(1) > 0.0, s"rank must stay positive: $row"))
    }
  }

  test("law: X-SKYLINE bucketed frontier equals brute-force dominance on random points") {
    import spark.implicits._
    val ptsGen = Gen.listOf(for {
      p <- Gen.chooseNum(0L, 5000L) // spans several SkylineBucketCents buckets
      s <- Gen.chooseNum(0L, 10L)   // small domain -> exact ties exercised
    } yield (p, s)).map(_.zipWithIndex.map { case ((p, s), i) => (i.toLong, p, s) })
    forAll(ptsGen, cases = 5) { pts =>
      val got = graft.queries.ScaleQueries.skylineOf(
          pts.toDF("p_partkey", "price_cents", "size"))
        .collect().map(_.getLong(0)).toSet
      val want = pts.filter { case (id, price, size) =>
        !pts.exists { case (qid, qp, qs) =>
          (qp <= price && qs >= size && (qp < price || qs > size)) ||
          (qp == price && qs == size && qid < id)
        }
      }.map(_._1).toSet
      assert(got == want, s"skyline drifted on $pts")
    }
  }

  test("law: X-LINREG distributed moments equal the sequential BigInt reference") {
    import spark.implicits._
    val xyGen = Gen.listOf(for {
      g <- Gen.oneOf("s1", "s2")
      x <- Gen.chooseNum(0L, 2500L)
      y <- Gen.chooseNum(-100000L, 5000000L)
    } yield (g, x, y)).map(l =>
      // two distinct x per group so var(x) != 0 and the slope is defined
      l ++ Seq(("s1", 0L, 7L), ("s1", 1L, 9L), ("s2", 0L, 3L), ("s2", 2L, 5L)))
    forAll(xyGen, cases = 5) { xs =>
      val got = llm.Analytics.linregOf(xs.toDF("c_mktsegment", "x", "y"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
            r.getDouble(6), r.getDouble(7))).toMap
      xs.groupBy(_._1).foreach { case (g, rows) =>
        val n = rows.size.toLong
        val sx = rows.map(_._2).sum
        val sy = rows.map(_._3).sum
        val sxy = rows.map(r => r._2 * r._3).sum
        val sxx = rows.map(r => r._2 * r._2).sum
        val slope = (n.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble) /
          (n.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble)
        val intercept = (sy.toDouble - slope * sx.toDouble) / n.toDouble
        assert(got(g) == ((n, sx, sy, sxy, sxx, slope, intercept)),
          s"linreg drifted for $g on $rows: ${got(g)}")
      }
    }
  }

  test("law: X-DUP-SPANS finds exactly the planted shared passage") {
    import spark.implicits._
    val caseGen = for {
      passLen <- Gen.chooseNum(8, 15)   // >= SpanGramN so it is detectable
      fillA <- Gen.chooseNum(0, 20)
      fillB <- Gen.chooseNum(0, 20)
      fillC <- Gen.chooseNum(0, 20)
    } yield (passLen, fillA, fillB, fillC)
    forAll(caseGen, cases = 5) { case (passLen, fa, fb, fc) =>
      val pass = (0 until passLen).map(i => s"p$i")
      def doc(tag: String, pre: Int, post: Int) =
        ((0 until pre).map(i => s"${tag}a$i") ++ pass ++
          (0 until post).map(i => s"${tag}b$i")).mkString(" ")
      val docs = Seq(
        (1L, doc("x", fa, fb)),
        (2L, doc("y", fc, 0)),
        (3L, (0 until 30).map(i => s"z$i").mkString(" ")))
      val got = llm.Dedup.dupSpansOf(docs.toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      // every fully-inside window of the passage is duplicated; boundary
      // windows carry a doc-unique filler token and are not
      val grams = (passLen - llm.Dedup.SpanGramN + 1).toLong
      val expect = (grams, 1L, passLen.toLong, passLen.toLong)
      assert(got == Map(1L -> expect, 2L -> expect),
        s"spans drifted on ($passLen,$fa,$fb,$fc): $got")
    }
  }

  test("law: X-GAPFILL spine is hole-free and the fill equals a sequential carry") {
    import spark.implicits._
    val seriesGen = Gen.nonEmptyListOf(for {
      p <- Gen.oneOf("p1", "p2")
      off <- Gen.chooseNum(0, 30)
      n <- Gen.chooseNum(1L, 5L)
      c <- Gen.chooseNum(1L, 9999L)
    } yield (p, off, n, c)).map(_.distinctBy(r => (r._1, r._2)))
    forAll(seriesGen, cases = 5) { rows =>
      val daily = rows.toDF("priority", "off", "n", "day_cents")
        .select(col("priority"),
          date_add(lit("2020-01-01").cast("date"), col("off")).as("day"),
          col("n"), col("day_cents"))
      val got = llm.Analytics.gapfillOf(daily).collect()
        .map(r => (r.getString(0), r.getDate(1).toLocalDate.toEpochDay.toInt,
          r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))
      val epoch0 = java.time.LocalDate.parse("2020-01-01").toEpochDay.toInt
      val want = rows.groupBy(_._1).toSeq.flatMap { case (p, rs) =>
        val byOff = rs.map(r => r._2 -> (r._3, r._4)).toMap
        val (lo, hi) = (byOff.keys.min, byOff.keys.max)
        var carry = 0L
        (lo to hi).map { off =>
          val obs = byOff.get(off)
          carry = obs.map(_._2).getOrElse(carry)
          (p, epoch0 + off, obs.map(_._1).getOrElse(0L),
            obs.map(_._2).getOrElse(0L), carry, obs.isEmpty)
        }
      }.sortBy(r => (r._1, r._2))
      assert(got.toSeq == want, s"gapfill drifted on $rows")
    }
  }

  test("law: X-WINSORIZE bounds and clamped sums equal the sequential order statistics") {
    import spark.implicits._
    val segGen = Gen.nonEmptyListOf(for {
      s <- Gen.oneOf("s1", "s2")
      c <- Gen.chooseNum(-1000L, 1000L) // small domain -> heavy ties
    } yield (s, c)).map(_.zipWithIndex.map { case ((s, c), i) => (s, c, i.toLong) })
    forAll(segGen, cases = 5) { rows =>
      val got = llm.Analytics.winsorizeOf(rows.toDF("c_mktsegment", "cents", "c_custkey"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
            r.getDouble(6))).toMap
      rows.groupBy(_._1).foreach { case (s, rs) =>
        val sorted = rs.map(r => (r._2, r._3)).sortBy(identity).map(_._1)
        val n = sorted.size
        val p = llm.Analytics.WinsorPct
        val lo = sorted((n * p + 99) / 100 - 1)
        val hi = sorted((n * (100 - p) + 99) / 100 - 1)
        val winSum = rs.map(r => math.max(lo, math.min(hi, r._2))).sum
        val rawSum = rs.map(_._2).sum
        val mean = winSum.toDouble / n.toDouble
        assert(got(s) == ((n.toLong, lo, hi, winSum, rawSum, mean)),
          s"winsorize drifted for $s on $rs: ${got(s)}")
      }
    }
  }

  test("law: X-DAU contribution explode equals brute-force rolling distinct") {
    import spark.implicits._
    val actGen = Gen.nonEmptyListOf(for {
      u <- Gen.chooseNum(0L, 8L)
      off <- Gen.chooseNum(0, 40) // sparse days with real gaps
    } yield (u, off)).map(_.distinct)
    forAll(actGen, cases = 5) { acts =>
      val df = acts.toDF("user_id", "off")
        .select(col("user_id"),
          date_add(lit("2020-01-01").cast("date"), col("off")).as("day"))
      val got = llm.Events.dauWauMauOf(df).collect()
        .map(r => r.getDate(0).toLocalDate.toEpochDay ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val epoch0 = java.time.LocalDate.parse("2020-01-01").toEpochDay
      val days = acts.map(_._2).distinct.sorted
      days.foreach { d =>
        val dau = acts.filter(_._2 == d).map(_._1).distinct.size.toLong
        val wau = acts.filter(a => a._2 <= d && a._2 > d - 7).map(_._1).distinct.size.toLong
        val mau = acts.filter(a => a._2 <= d && a._2 > d - 30).map(_._1).distinct.size.toLong
        assert(got(epoch0 + d) == ((dau, wau, mau)),
          s"rolling actives drifted at day $d on $acts: ${got(epoch0 + d)}")
      }
      // report days are exactly the active days (inner-join contract)
      assert(got.keySet == days.map(epoch0 + _).toSet)
    }
  }

  test("law: X-BITMAP-DISTINCT codec round-trips and distributed merge equals set union") {
    import graft.functions.Bitmap
    val idsGen = Gen.listOf(Gen.chooseNum(0L, 5000L))
    forAll(idsGen, cases = 6) { ids =>
      // codec round-trip on the raw set (includes the empty set)
      val set = scala.collection.mutable.HashSet.from(ids)
      val back = scala.collection.mutable.HashSet.empty[Long]
      val n = Bitmap.decodeInto(Bitmap.encode(set), back)
      assert(n == set.size.toLong && back == set, s"codec broke on $ids")
      // distributed two-stage agg == exact distinct, regardless of the
      // (day-keyed) partial split the ids land in
      if (ids.nonEmpty) {
        import spark.implicits._
        val df = ids.zipWithIndex
          .map { case (id, i) => (i % 3, id) }.toDF("cell", "id")
          .repartition(4)
        val merged = df
          .groupBy("cell")
          .agg(udaf(Bitmap.build, org.apache.spark.sql.Encoders.scalaLong)
            .apply(col("id")).as("bm"))
          .agg(udaf(Bitmap.mergeCount, org.apache.spark.sql.Encoders.BINARY)
            .apply(col("bm.bytes")))
          .head().getLong(0)
        assert(merged == ids.distinct.size.toLong, s"merge drifted on $ids")
      }
    }
  }

  test("law: X-ATTRIB-POS U-shaped credit matches a sequential reference and conserves exactly") {
    import spark.implicits._
    val dayUs = 86400000000L
    val evGen: Gen[List[(Long, Long, String, Long)]] =
      Gen.nonEmptyListOf(for {
        u <- Gen.chooseNum(0L, 4L)
        // quarter-day grid: timestamp TIES and exact 7-day-boundary cases
        // occur routinely, exercising the (ts, event_id) tie-break and the
        // strict lookback bound
        us <- Gen.chooseNum(0L, 80L).map(_ * (dayUs / 4))
        t <- Gen.oneOf("click", "view", "purchase", "error")
        c <- Gen.chooseNum(0L, 99999L)
      } yield (u, us, t, c))
    forAll(evGen, cases = 4) { rows =>
      val ev = rows.zipWithIndex.map { case ((u, us, t, c), i) =>
        (u, us, i.toLong, t, c)
      }
      val df = ev.toDF("user_id", "us", "event_id", "event_type", "cents")
        .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
          col("event_id"), col("event_type"), col("cents"))
      val got = graft.llm.Attribution.positionCreditOf(df).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      // sequential reference: per purchase, enumerate in-lookback
      // touches, apply the same ppm grid and shortfall-cents rule
      val look = graft.llm.Attribution.LookbackDays * dayUs
      val want = scala.collection.mutable.Map.empty[String, (Long, Long, Long)]
      def add(ch: String, ppm: Long, cents: Long, touches: Long): Unit = {
        val (a, b, c0) = want.getOrElse(ch, (0L, 0L, 0L))
        want(ch) = (a + ppm, b + cents, c0 + touches)
      }
      for ((u, cus, cid, t, cents) <- ev if t == "purchase") {
        val tch = ev.filter { case (tu, tus, tid, tt, _) =>
          tu == u && (tt == "click" || tt == "view") &&
            (tus < cus || (tus == cus && tid < cid)) && tus > cus - look
        }.sortBy { case (_, tus, tid, _, _) => (tus, tid) }
        val k = tch.size
        if (k == 0) add("none", 1000000L, cents, 0L)
        else {
          val ppm = (1 to k).map { rn =>
            if (k == 1) 1000000L
            else if (k == 2) 500000L
            else if (rn == 1 || rn == k) 400000L
            else 200000L / (k - 2) + (if (rn - 1 <= 200000L % (k - 2)) 1L else 0L)
          }
          val base = ppm.map(p => cents * p / 1000000L)
          val short = cents - base.sum
          tch.zipWithIndex.foreach { case ((_, _, _, tt, _), i) =>
            add(tt, ppm(i), base(i) + (if (i + 1 <= short) 1L else 0L), 1L)
          }
        }
      }
      assert(got == want.toMap, s"attribution drifted: got $got want $want")
      val purchases = ev.filter(_._4 == "purchase")
      assert(got.values.map(_._1).sum == 1000000L * purchases.size)
      assert(got.values.map(_._2).sum == purchases.map(_._5).sum)
    }
  }

  test("law: X-ATTRIB-DECAY power-of-two credit matches a sequential reference and conserves") {
    import spark.implicits._
    val dayUs = 86400000000L
    val evGen: Gen[List[(Long, Long, String, Long)]] =
      Gen.nonEmptyListOf(for {
        u <- Gen.chooseNum(0L, 4L)
        // quarter-day grid: timestamp TIES and exact 7-day-boundary cases
        // occur routinely, exercising the (ts, event_id) tie-break and the
        // strict lookback bound
        us <- Gen.chooseNum(0L, 80L).map(_ * (dayUs / 4))
        t <- Gen.oneOf("click", "view", "purchase", "error")
        c <- Gen.chooseNum(0L, 99999L)
      } yield (u, us, t, c))
    forAll(evGen, cases = 4) { rows =>
      val ev = rows.zipWithIndex.map { case ((u, us, t, c), i) =>
        (u, us, i.toLong, t, c)
      }
      val df = ev.toDF("user_id", "us", "event_id", "event_type", "cents")
        .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
          col("event_id"), col("event_type"), col("cents"))
      val got = graft.llm.Attribution.timeDecayCreditOf(df).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      val look = graft.llm.Attribution.LookbackDays * dayUs
      val half = graft.llm.Attribution.DecayHalfLifeUs
      val cap = graft.llm.Attribution.DecayCapHalfLives
      val want = scala.collection.mutable.Map.empty[String, (Long, Long, Long)]
      def add(ch: String, ppm: Long, cents: Long, touches: Long): Unit = {
        val (a, b, c0) = want.getOrElse(ch, (0L, 0L, 0L))
        want(ch) = (a + ppm, b + cents, c0 + touches)
      }
      for ((u, cus, cid, t, cents) <- ev if t == "purchase") {
        // most-recent-first: remainder ppm and shortfall cents go to the
        // front of this ordering
        val tch = ev.filter { case (tu, tus, tid, tt, _) =>
          tu == u && (tt == "click" || tt == "view") &&
            (tus < cus || (tus == cus && tid < cid)) && tus > cus - look
        }.sortBy { case (_, tus, tid, _, _) => (-tus, -tid) }
        if (tch.isEmpty) add("none", 1000000L, cents, 0L)
        else {
          val w = tch.map { case (_, tus, _, _, _) =>
            1L << (cap - math.min((cus - tus) / half, cap.toLong)).toInt
          }
          val tw = w.sum
          val floors = w.map(x => 1000000L * x / tw)
          val rem = 1000000L - floors.sum
          val ppm = floors.zipWithIndex.map { case (p, i) =>
            p + (if (i + 1 <= rem) 1L else 0L)
          }
          val base = ppm.map(p => cents * p / 1000000L)
          val short = cents - base.sum
          tch.zipWithIndex.foreach { case ((_, _, _, tt, _), i) =>
            add(tt, ppm(i), base(i) + (if (i + 1 <= short) 1L else 0L), 1L)
          }
        }
      }
      assert(got == want.toMap, s"decay attribution drifted: got $got want $want")
      val purchases = ev.filter(_._4 == "purchase")
      assert(got.values.map(_._1).sum == 1000000L * purchases.size)
      assert(got.values.map(_._2).sum == purchases.map(_._5).sum)
    }
  }

  test("law: X-ATTRIB-LAST fill-down matches a sequential last-touch reference") {
    import spark.implicits._
    val dayUs = 86400000000L
    val evGen: Gen[List[(Long, Long, String, Long)]] =
      Gen.nonEmptyListOf(for {
        u <- Gen.chooseNum(0L, 4L)
        // quarter-day grid: timestamp TIES and exact 7-day-boundary cases
        // occur routinely, exercising the (ts, event_id) tie-break and the
        // strict lookback bound
        us <- Gen.chooseNum(0L, 80L).map(_ * (dayUs / 4))
        t <- Gen.oneOf("click", "view", "purchase", "error")
        c <- Gen.chooseNum(0L, 99999L)
      } yield (u, us, t, c))
    forAll(evGen, cases = 4) { rows =>
      val ev = rows.zipWithIndex.map { case ((u, us, t, c), i) =>
        (u, us, i.toLong, t, c)
      }
      val df = ev.toDF("user_id", "us", "event_id", "event_type", "cents")
        .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
          col("event_id"), col("event_type"), col("cents"))
      val got = graft.llm.Attribution.lastTouchOf(df).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      // sequential reference: walk each user's (us, event_id)-ordered
      // stream carrying the latest touch, apply the lookback at purchase
      val look = graft.llm.Attribution.LookbackDays * dayUs
      val agg = scala.collection.mutable.Map.empty[String, (Long, Long, scala.collection.mutable.Set[Long])]
      for ((u, evsOfU) <- ev.groupBy(_._1)) {
        var touch: Option[(Long, String)] = None
        for ((_, us, _, t, c) <- evsOfU.sortBy(e => (e._2, e._3))) {
          if (t == "click" || t == "view") touch = Some((us, t))
          else if (t == "purchase") {
            val ch = touch match {
              case Some((tus, tt)) if tus > us - look => tt
              case _ => "none"
            }
            val (n, cs, users) = agg.getOrElseUpdate(ch,
              (0L, 0L, scala.collection.mutable.Set.empty[Long]))
            agg(ch) = (n + 1, cs + c, users += u)
          }
        }
      }
      val want = agg.view.mapValues { case (n, cs, us) => (n, cs, us.size.toLong) }.toMap
      assert(got == want, s"last-touch drifted: got $got want $want")
    }
  }

  test("law: X-FREQ-CAP served/suppressed/capped match a sequential reference") {
    import spark.implicits._
    val dayUs = 86400000000L
    val evGen: Gen[List[(Long, Long, String)]] =
      Gen.nonEmptyListOf(for {
        u <- Gen.chooseNum(0L, 3L)
        // quarter-day grid: timestamp TIES and exact 7-day-boundary cases
        // occur routinely, exercising the (ts, event_id) tie-break and the
        // strict lookback bound
        us <- Gen.chooseNum(0L, 80L).map(_ * (dayUs / 4))
        t <- Gen.oneOf("click", "view", "purchase")
      } yield (u, us, t))
    forAll(evGen, cases = 4) { rows =>
      val ev = rows.zipWithIndex.map { case ((u, us, t), i) => (u, us, i.toLong, t) }
      val df = ev.toDF("user_id", "us", "event_id", "event_type")
        .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
          col("event_id"), col("event_type"))
      val got = graft.llm.Attribution.freqCapOf(df).collect()
        .map(r => r.getDate(0).toString ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      // sequential reference: Monday-start ISO week from epoch micros,
      // rank per (user, week) by (us, event_id), cap at WeeklyCap
      def weekOf(us: Long): java.time.LocalDate = {
        val d = java.time.LocalDate.ofEpochDay(Math.floorDiv(us, dayUs))
        d.minusDays(d.getDayOfWeek.getValue - 1L)
      }
      val cap = graft.llm.Attribution.WeeklyCap
      val want = scala.collection.mutable.Map.empty[String, (Long, Long, scala.collection.mutable.Set[Long])]
      for (((u, wk), imps) <- ev.filter(e => e._4 == "click" || e._4 == "view")
             .groupBy(e => (e._1, weekOf(e._2)))) {
        val sorted = imps.sortBy(e => (e._2, e._3))
        val (served, supp) = sorted.splitAt(cap)
        val (s0, x0, users) = want.getOrElseUpdate(wk.toString,
          (0L, 0L, scala.collection.mutable.Set.empty[Long]))
        want(wk.toString) = (s0 + served.size, x0 + supp.size,
          if (supp.nonEmpty) users += u else users)
      }
      val wantFinal = want.view
        .mapValues { case (s, x, us) => (s, x, us.size.toLong) }.toMap
      assert(got == wantFinal, s"freq cap drifted: got $got want $wantFinal")
    }
  }

  test("law: X-INTERVAL-MERGE equals brute-force interval union, ties included") {
    import spark.implicits._
    val iv = 1000L
    val ptsGen: Gen[List[(Long, Long)]] =
      Gen.nonEmptyListOf(for {
        u <- Gen.chooseNum(0L, 3L)
        us <- Gen.chooseNum(0L, 20000L) // dense: forces overlaps and ties
      } yield (u, us))
    forAll(ptsGen, cases = 4) { pts =>
      val ev = pts.zipWithIndex.map { case ((u, us), i) => (u, us, i.toLong) }
      val got = graft.llm.Attribution
        .intervalMergeOf(ev.toDF("user_id", "us", "event_id"), iv)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap
      val want = ev.groupBy(_._1).map { case (u, rows) =>
        val sorted = rows.map(_._2).sorted
        val islands = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
        for (us <- sorted) {
          if (islands.nonEmpty && us < islands.last._2)
            islands(islands.size - 1) =
              (islands.last._1, math.max(islands.last._2, us + iv))
          else islands += ((us, us + iv))
        }
        val spans = islands.map { case (s, e) => e - s }
        u -> ((islands.size.toLong, spans.sum, spans.max, rows.size.toLong))
      }
      assert(got == want, s"interval merge drifted: got $got want $want")
    }
  }

  test("law: X-DEDUP-CLUSTER equals a sequential union-find reference on random graphs") {
    import spark.implicits._
    val caseGen: Gen[(Int, List[(Long, Long)])] = for {
      n <- Gen.chooseNum(2, 24)
      // edges drawn WITH repetition and self-loop-free; density spans
      // isolated pairs through near-complete components
      es <- Gen.listOf(for {
        a <- Gen.chooseNum(1L, n.toLong)
        off <- Gen.chooseNum(1L, n.toLong - 1L)
      } yield {
        val b = 1L + (a - 1L + off) % n // any node except a, no filtering
        (math.min(a, b), math.max(a, b))
      })
    } yield (n, es)
    forAll(caseGen, cases = 5) { case (n, es) =>
      val docs = (1 to n).map(i =>
        (i.toLong, s"s${i % 3}", "x" * (1 + i % 7))).toDF("doc_id", "source", "text")
      val edges = (if (es.isEmpty) List((1L, 2L)) else es).distinct
      val got = llm.Dedup.dedupClusterOf(docs, edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      // sequential union-find with path compression
      val parent = Array.tabulate(n + 1)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // canonical = min id of the component = its root under min-union
      val comp = (1 to n).map(i => i -> find(i)).toMap
      val pairwiseDropped = edges.map(_._2).toSet
      val want = (1 to n).groupBy(i => s"s${i % 3}").map { case (src, ids) =>
        val dropped = ids.filter(i => comp(i) != i)
        src -> ((
          (ids.size - dropped.size).toLong,
          ids.filter(i => comp(i) == i).map(i => (1 + i % 7).toLong).sum,
          dropped.size.toLong,
          dropped.count(i => !pairwiseDropped(i.toLong)).toLong))
      }
      assert(got == want, s"cluster dedup drifted on edges=$edges: got $got want $want")
    }
  }

  test("law: X-RANK-METRICS fixed-point math equals a sequential reference on random rankings") {
    import spark.implicits._
    val K = llm.Similarity.K
    val caseGen: Gen[(List[(String, Long, List[Long])], List[(Long, List[Long])])] = for {
      nq <- Gen.chooseNum(1, 4)
      rungs = List("a", "b")
      ann <- Gen.sequence[List[(String, Long, List[Long])], (String, Long, List[Long])](
        for { r <- rungs; q <- 1 to nq } yield for {
          len <- Gen.chooseNum(0, K)
          cids <- Gen.pick(len, 1L to 30L)
        } yield (r, q.toLong, cids.toList))
      truth <- Gen.sequence[List[(Long, List[Long])], (Long, List[Long])](
        (1 to nq).toList.map(q =>
          Gen.pick(K, 1L to 30L).map(c => (q.toLong, c.toList))))
    } yield (ann, truth)
    forAll(caseGen, cases = 5) { case (annLists, truthLists) =>
      val annDf = annLists.flatMap { case (r, q, cids) =>
        cids.zipWithIndex.map { case (c, i) => (r, q, i + 1L, c) }
      }.toDF("rung", "qid", "rank", "cid")
      val truthDf = truthLists.flatMap { case (q, cs) => cs.map((q, _)) }
        .toDF("qid", "cid")
      val got = llm.Similarity.rankMetricsOf(annDf, truthDf, Seq("a", "b"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      val w = llm.Similarity.NdcgWeightsPpb
      val idcg = llm.Similarity.NdcgIdealPpb
      val truthSets = truthLists.map { case (q, cs) => q -> cs.toSet }.toMap
      val nq = truthLists.size.toLong
      val want = List("a", "b").map { rung =>
        val perQ = truthLists.map { case (q, _) =>
          val list = annLists.find(a => a._1 == rung && a._2 == q).map(_._3).getOrElse(Nil)
          val hitRanks = list.zipWithIndex.collect {
            case (c, i) if truthSets(q)(c) => i + 1
          }
          val hits = hitRanks.size.toLong
          val rr = hitRanks.headOption.map(1000000L / _.toLong).getOrElse(0L)
          val dcg = hitRanks.map(r => w(r - 1)).sum
          (hits, rr, dcg * 1000000L / idcg)
        }
        rung -> ((nq, perQ.map(_._1).sum,
          1000000L * perQ.map(_._1).sum / (nq * K),
          perQ.map(_._2).sum / nq, perQ.map(_._3).sum / nq))
      }.toMap
      assert(got == want, s"rank metrics drifted: got $got want $want")
    }
  }

  test("law: X-SURVIVAL equals the sequential Kaplan-Meier reference") {
    import spark.implicits._
    val popGen = Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, 8L), Gen.oneOf(0L, 1L)))
    forAll(popGen, cases = 5) { pop =>
      val got = llm.Analytics.survivalOf(pop.toDF("t", "cens"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      // sequential reference: walk t ascending with the exact ppm recurrence
      val byT = pop.groupBy(_._1).map { case (t, g) =>
        (t, g.count(_._2 == 0L).toLong, g.count(_._2 == 1L).toLong)
      }.toSeq.sortBy(_._1)
      var atRisk = pop.size.toLong
      var s = 1000000L
      val want = byT.map { case (t, d, c) =>
        if (d > 0) s = s * (atRisk - d) / atRisk
        val row = (t, atRisk, d, c, s)
        atRisk -= d + c
        row
      }
      assert(got.sortBy(_._1).toSeq == want, s"KM curve drifted on $pop")
    }
  }

  test("law: X-CUPED moments equal the sequential BigInt reference; rho2 in [0,1]") {
    import spark.implicits._
    val userGen = Gen.nonEmptyListOf(Gen.zip(
      Gen.chooseNum(0L, 9999L), Gen.chooseNum(0L, 500000L), Gen.chooseNum(0L, 500000L)))
    forAll(userGen, cases = 4) { raw =>
      // distinct user ids; both variants populated (append sentinels)
      val users = (raw.zipWithIndex.map { case ((_, x, y), i) => (i.toLong, x, y) }
        ++ Seq((raw.size.toLong, 7L, 11L), (raw.size.toLong + 1, 13L, 17L)))
      val ev = users.flatMap { case (u, x, y) => Seq(
        (u, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), "purchase", x / 100.0),
        (u, java.sql.Timestamp.valueOf("2024-01-20 00:00:00"), "purchase", y / 100.0))
      }.toDF("user_id", "ts", "event_type", "value")
      // drive the public operator through a temp-view-free path: rebuild
      // the per-user pivot exactly as cuped() does, then compare moments
      val r = llm.Analytics.cupedOf(ev).collect().head
      def bi(xs: Seq[Long]) = xs.map(BigInt(_)).sum
      val xs = users.map(_._2); val ys = users.map(_._3)
      val n = BigInt(users.size)
      val (sx, sy) = (bi(xs), bi(ys))
      val sxy = bi(users.map { case (_, x, y) => x * y })
      val sxx = bi(xs.map(x => x * x)); val syy = bi(ys.map(y => y * y))
      val cov = (n * sxy - sx * sy).toDouble
      val varx = (n * sxx - sx * sx).toDouble
      val vary = (n * syy - sy * sy).toDouble
      val rho2 = r.getDouble(6)
      if (varx > 0 && vary > 0) {
        assert(math.abs(rho2 - cov * cov / (varx * vary)) <= math.ulp(rho2) * 8,
          "rho2 drifted from the BigInt-moment reference")
        assert(rho2 >= 0.0 && rho2 <= 1.0 + 1e-12, s"rho2 out of range: $rho2")
      }
      assert(r.getLong(0) === users.size.toLong)
    }
  }

  test("law: X-PCA Rayleigh quotient is non-decreasing on random PSD matrices") {
    val matGen = Gen.listOfN(llm.Pca.Dims * 4, Gen.chooseNum(-50L, 50L))
    forAll(matGen, cases = 5) { cells =>
      // PSD by construction: C = AᵀA with A a 4×64 integer matrix
      val a = cells.map(BigInt(_)).grouped(llm.Pca.Dims).toArray
      val c = Array.tabulate(llm.Pca.Dims, llm.Pca.Dims)((i, j) =>
        a.map(row => row(i) * row(j)).sum)
      val rq = llm.Pca.powerIterate(c, llm.Pca.Rounds).map(llm.Pca.rayleigh(c, _))
      rq.sliding(2).foreach { case Seq(p, q) =>
        assert(q >= p, s"Rayleigh quotient dropped: $rq")
      }
    }
  }

  test("law: LSH banding candidates cover every pair above the S-curve knee") {
    // Ties x_lsh_curve's published design curve to BEHAVIOR on arbitrary
    // inputs: for the 16×4 banding, a pair with true shingle Jaccard J
    // collides in ≥1 band with probability 1 − (1 − J⁴)^16 — at J ≥ 0.9
    // that is 1 − 0.344^16 ≈ 1 − 4·10⁻⁸, so on a deterministic generated
    // corpus every such pair MUST surface as a banding candidate (the
    // fixed seed makes the run reproducible; a miss would mean the band
    // fold, signature kernel, or pair join broke, not bad luck).
    import spark.implicits._
    val corpusGen = for {
      n <- Gen.chooseNum(4, 8)
      bases <- Gen.listOfN(n, Gen.listOfN(400, Gen.alphaLowerChar).map(_.mkString))
      muts <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(0, 2), Gen.chooseNum(10, 380)))
    } yield bases.zip(muts)
    forAll(corpusGen, cases = 3) { rows =>
      val docs = rows.zipWithIndex.flatMap { case ((base, (nMut, pos)), i) =>
        // a near-copy with ≤2 scattered char flips: each flip moves ≤8
        // of ~393 shingles, so true Jaccard stays ≥ ~0.92
        val mutant = (0 until nMut).foldLeft(base)((s, j) =>
          s.updated(pos + j * 7, if (s(pos + j * 7) == 'z') 'a' else 'z'))
        Seq((2L * i, base), (2L * i + 1, mutant))
      }.toDF("doc_id", "text")
      val hs = docs.select(col("doc_id"), llm.Dedup.shingleHashes(col("text")).as("hs"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      val mustPair = hs.keys.toSeq.combinations(2).map(_.sorted).flatMap {
        case Seq(a, b) =>
          val (sa, sb) = (hs(a), hs(b))
          val j = (sa & sb).size.toDouble / (sa | sb).size.toDouble
          if (j >= 0.9) Some((a, b, j)) else None
      }.toSeq
      assert(mustPair.nonEmpty, "generator must produce at least one near pair")
      val cands = llm.Dedup.candidatePairs(llm.Dedup.signatures(docs))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      mustPair.foreach { case (a, b, j) =>
        // the curve's own math says this pair is a near-certain candidate
        val q = 1.0 - j * j * j * j
        val q2 = q * q; val q4 = q2 * q2; val q8 = q4 * q4
        assert(1.0 - q8 * q8 > 0.9999)
        assert(cands.contains((a, b)),
          s"banding missed pair ($a,$b) with true Jaccard $j")
      }
    }
  }
}
