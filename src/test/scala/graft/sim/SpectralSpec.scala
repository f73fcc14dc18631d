package graft.sim

import graft.SparkSpec

/** Contract tests for the covariance / PCA module beyond the hash
  * gate: algebraic invariants of the matrix, the Rayleigh-quotient
  * monotonicity witness of the power iteration, and a synthetic
  * known-direction recovery. */
class SpectralSpec extends SparkSpec {

  private lazy val cov = Spectral.covarianceMatrix(spark, sf())
    .collect()
    .map(r => ((r.getInt(0), r.getInt(1)),
      (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
    .toMap

  test("q176 emits the full upper triangle with one consistent count") {
    assert(cov.size == Spectral.Dim * (Spectral.Dim + 1) / 2)
    val ns = cov.values.map(_._1).toSet
    assert(ns.size == 1, s"count must be corpus-wide constant: $ns")
    // diagonal second moments are non-negative by construction
    (0 until Spectral.Dim).foreach { d =>
      assert(cov((d, d))._4 >= 0L, s"s_dd < 0 at $d")
    }
  }

  test("q176 sums are transpose-consistent (s_i of (i,j) = s_j of (j,i) role)") {
    // in row (i,j): s_i sums dim i, s_j sums dim j; the dim-i sum must
    // agree across every row that touches dim i
    val perDim = collection.mutable.Map[Int, Long]()
    cov.foreach { case ((i, j), (_, si, sj, _)) =>
      assert(perDim.getOrElseUpdate(i, si) == si, s"s_i drift at ($i,$j)")
      assert(perDim.getOrElseUpdate(j, sj) == sj, s"s_j drift at ($i,$j)")
    }
  }

  test("power iteration: Rayleigh quotient ends at/above the seed axis variance") {
    val rows = cov.toSeq.map { case ((i, j), (n, si, sj, sij)) =>
      (i, j, n, si, sj, sij)
    }
    val v = Spectral.powerIterate(rows)
    // centered covariance in BigInt (no overflow in the witness math)
    def c(i: Int, j: Int): BigInt = {
      val (n, si, sj, sij) =
        if (i <= j) cov((i, j))
        else { val (n0, sj0, si0, sij0) = cov((j, i)); (n0, si0, sj0, sij0) }
      BigInt(n) * sij - BigInt(si) * sj
    }
    val vB = v.map(BigInt(_))
    val num = (for (i <- 0 until Spectral.Dim; j <- 0 until Spectral.Dim)
      yield vB(i) * c(i, j) * vB(j)).sum
    val den = vB.map(x => x * x).sum
    assert(den > 0, "iteration collapsed to the zero vector")
    val rayleigh = num / den // floor — fine for a ≥ comparison
    val maxAxis = (0 until Spectral.Dim).map(d => c(d, d)).max
    // power iteration seeds AT the max-variance axis and (up to the
    // shift rounding) only raises the quotient; allow 2% slack for
    // the integer renormalization
    assert(rayleigh * 100 >= maxAxis * 98,
      s"rayleigh $rayleigh < max axis variance $maxAxis")
  }

  test("power iteration recovers a planted dominant axis") {
    // synthetic second moments of a corpus whose variance is
    // concentrated on axis 7: cov = diag(small) + spike at (7,7)
    val n = 100L
    val rows = for (i <- 0 until Spectral.Dim; j <- i until Spectral.Dim)
      yield {
        val sij = if (i == 7 && j == 7) 1000000L
          else if (i == j) 100L else 0L
        (i, j, n, 0L, 0L, sij)
      }
    val v = Spectral.powerIterate(rows)
    val top = v.zipWithIndex.maxBy { case (x, _) => math.abs(x) }._2
    assert(top == 7, s"dominant component at $top, expected 7")
  }

  test("q177 projection is deterministic and complete") {
    val a = Spectral.pcaProject(spark, sf()).collect()
    val b = Spectral.pcaProject(spark, sf()).collect()
    assert(a.sameElements(b))
    assert(a.length ==
      graft.Tables.load(spark, sf(), "embeddings").count())
  }

  test("pagerank: star-graph mass pools in the hub cycle; spokes tie") {
    import spark.implicits._
    // 9 spokes all point at node 0; node 0 points at node 1. The
    // spokes' mass drains into the {0, 1} cycle (oscillating between
    // them — the graph is near-periodic, so which of the two holds
    // more after a FIXED iteration count is parity, not centrality);
    // both must dominate every spoke, and the symmetric spokes tie.
    val nodes = (0L to 9L).toDF("id")
    val edges = ((1L to 9L).map(i => (i, 0L)) :+ (0L, 1L))
      .toDF("src", "dst")
    val pr = Spectral.pagerankIterate(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr(0L) > pr(2L) && pr(1L) > pr(2L),
      s"cycle must dominate spokes: $pr")
    assert((2L to 9L).map(pr).toSet.size == 1, s"spokes must tie: $pr")
    // spokes get no inflow at all: they sit exactly at the base
    assert(pr(2L) == Spectral.PrBase)
  }

  test("pagerank: floors only lose mass, never mint it") {
    val out = Spectral.pagerankCentrality(spark, sf()).collect()
    val n = out.length
    val total = out.map(_.getLong(1)).sum
    // every node ≥ the damping base; total ≤ the started mass n·2¹⁶
    assert(out.forall(_.getLong(1) >= Spectral.PrBase))
    assert(total <= n * Spectral.PrScale, s"mass minted: $total")
    // and the ranking differentiates (a constant vector means the
    // iteration never propagated anything)
    assert(out.map(_.getLong(1)).distinct.length > 1)
  }

  test("pca guards the centered-covariance overflow ceiling loudly") {
    val tooBig = Spectral.CovMaxN + 1
    val rows = for (i <- 0 until Spectral.Dim; j <- i until Spectral.Dim)
      yield (i, j, tooBig, 0L, 0L, if (i == j) 1L else 0L)
    val e = intercept[IllegalArgumentException] {
      Spectral.powerIterate(rows)
    }
    assert(e.getMessage.contains("per-shard decimal"),
      s"guard must explain the escape hatch: ${e.getMessage}")
  }

  test("q232: the peel reaches the true maximal k-core") {
    import org.apache.spark.sql.functions._
    val out = Spectral.kCore(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2)))
    val core = out.filter(_._2).map(_._1).toSet
    assert(core.nonEmpty && core.size < out.length,
      "peel must be non-trivial on this corpus")
    // independent mutual-edge derivation
    val e = Similarity.knnGraphZone(spark, sf())
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mutual = e.filter { case (a, b) => e.contains((b, a)) }
    def coreDeg(v: Long): Int =
      mutual.count { case (a, b) => a == v && core.contains(b) }
    out.foreach { case (v, in, d) =>
      if (in) {
        assert(d == coreDeg(v), s"node $v deg_core")
        assert(d >= Spectral.CoreK, s"core node $v under threshold")
      } else {
        // maximality — which also PROVES the 8 rounds converged: a
        // non-core node with ≥ K core neighbors would extend the core
        assert(coreDeg(v) < Spectral.CoreK,
          s"non-core node $v could join the core — peel not converged")
        assert(d == 0L)
      }
    }
  }

  test("q232: a warm call submits one job per peel round plus a fixed prelude") {
    Spectral.kCore(spark, sf()).collect() // builds the kNN zone
    // independent edge peel over the mutual edges: rounds until the
    // live edge count repeats
    val e = Similarity.knnGraphZone(spark, sf())
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    var live = e.filter { case (a, b) => e.contains((b, a)) }
    var rounds = 0
    var stable = false
    while (!stable) {
      rounds += 1
      val deg = live.toSeq.groupBy(_._1).map { case (v, es) => v -> es.size }
      val next = live.filter { case (a, b) =>
        deg(a) >= Spectral.CoreK && deg(b) >= Spectral.CoreK }
      stable = next.size == live.size
      live = next
    }
    val (_, jobs) = jobsOf(Spectral.kCore(spark, sf()))
    // prelude: the mutual-edge root under session AQE (broadcast +
    // checkpoint) and the corpus scan's schema read
    assert(jobs == rounds + 3, s"$jobs jobs for $rounds peel rounds")
  }

  test("q268: two bridged cliques converge to two communities") {
    import spark.implicits._
    // triangle {1,2,3}, triangle {10,11,12}, one bridge 3–10
    val cliq = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
    val und = cliq.toDF("src", "dst")
      .union(cliq.map(_.swap).toDF("src", "dst"))
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 12L).toDF("id")
    val got = Spectral.labelPropIterate(nodes, und)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hand-traced 5-round synchronous propagation with min tie-break
    assert(Set(1L, 2L, 3L).map(got) == Set(1L),
      s"left clique labels: $got")
    assert(Set(10L, 11L, 12L).map(got) == Set(3L),
      s"right clique labels: $got")
  }

  test("q176 plan: one scan, no join (map-side pair expansion only)") {
    val plan = Spectral.covarianceMatrix(spark, sf())
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"pair expansion must not join:\n$plan")
    val scans = "FileScan|Scan parquet".r.findAllIn(plan).length
    assert(scans <= 1, s"expected a single corpus scan:\n$plan")
  }

  test("q275: path-graph hop distances with the round budget honored") {
    import spark.implicits._
    // path 0-1-2-3-4-5, seed at 0; BfsRounds = 4 → node 5 unreached
    val es = (0L to 4L).map(i => (i, i + 1))
    val und = es.toDF("src", "dst")
      .union(es.map(_.swap).toDF("src", "dst"))
    val d0 = (0L to 5L).map(i =>
      (i, if (i == 0L) Some(0L) else None)).toDF("id", "d")
    val got = Spectral.bfsIterate(d0, und).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L,
      4L -> 4L, 5L -> -1L), s"distances: $got")
  }

  test("q276: teleport mass stays on the seed side of a cut graph") {
    import spark.implicits._
    // two disjoint 2-cycles {1,2} and {10,11}; only node 1 is a seed
    val edges = Seq((1L, 2L), (2L, 1L), (10L, 11L), (11L, 10L))
      .toDF("src", "dst")
    val nodes = Seq((1L, true), (2L, false), (10L, false), (11L, false))
      .toDF("id", "seed")
    val got = Spectral.pprIterate(nodes, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(10L) == 0L && got(11L) == 0L,
      s"no seed mass may cross the cut: $got")
    assert(got(1L) >= Spectral.PrBase, s"seed keeps its base: $got")
    assert(got(2L) > 0L, s"mass flows along the seed cycle: $got")
  }
  test("q285: RA index on a square — diagonals score 2/deg, edges excluded") {
    // cycle 1-2-3-4-1: the only distance-2 pairs are the diagonals
    // (1,3) and (2,4), each with TWO common neighbors of degree 2
    // -> ra_fp = 2 * (RaScale div 2) = RaScale; adjacent pairs must
    // be anti-joined away even though they share middles
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, sum, expr}
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val und = es.toDF("src", "dst")
      .union(es.map(_.swap).toDF("src", "dst"))
    val deg = und.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val cand = und.select(col("src").as("x"), col("dst").as("z"))
      .join(und.select(col("src").as("z"), col("dst").as("y")), "z")
      .where(col("x") < col("y"))
    val scored = cand
      .join(deg.select(col("src").as("z"), col("deg")), "z")
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("cn"),
        sum(expr(s"${Spectral.RaScale} div deg")).as("ra"))
    val got = scored
      .join(und, scored("x") === und("src") && scored("y") === und("dst"),
        "left_anti")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got == Map((1L, 3L) -> ((2L, Spectral.RaScale)),
      (2L, 4L) -> ((2L, Spectral.RaScale))), s"got: $got")
  }
}
