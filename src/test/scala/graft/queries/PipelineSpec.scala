package graft.queries

import graft.SparkSpec

/** Semantic checks for the training-data pipeline operators on the
  * sf0.001 testdata (500 docs with planted ~0.99-Jaccard near-dup
  * pairs; 500 64-dim embeddings). The t2 oracle hash-checks exact
  * values; these assert the ALGORITHMS behave (dedup recall, ANN
  * shape, signature agreement across methods).
  */
class PipelineSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private lazy val jaccardScored =
    TextPipeline.dedupJaccard(spark, dir)
      .select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  private lazy val jaccardPairs = jaccardScored.keySet

  test("jaccard dedup finds the planted near-dup pairs") {
    assert(jaccardPairs.nonEmpty)
  }

  test("minhash LSH recalls the true high-jaccard pairs") {
    val mh = TextPipeline.dedupMinHash(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // At jaccard ~0.99, P(missing all 4 bands) ≈ (1-0.99^4)^4 ≈ 2e-6:
    // every planted pair must surface as an LSH candidate.
    assert(jaccardPairs.subsetOf(mh), s"missed: ${jaccardPairs -- mh}")
  }

  test("simhash-64 finds true near-dup pairs within hamming 7") {
    val sh = TextPipeline.dedupSimHash(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sh.nonEmpty)
    // Hamming ≤ 7 of 64 bits is a slightly TIGHTER similarity bar than
    // jaccard 0.8 (measured at sf0.001: 25 of the 28 jaccard pairs sit
    // at hamming ≤ 7; the 3 misses are at jaccard 0.89-0.96 / hamming
    // 8-10), so the contract is a recall floor, not a superset.
    val recall = jaccardPairs.count(sh).toDouble / jaccardPairs.size
    assert(recall >= 0.85,
      s"simhash recall $recall too low; missed ${jaccardPairs -- sh}")
    // the strongest near-dups (jaccard ≥ 0.97 ⇒ expected hamming ~2)
    // must never be missed — pigeonhole guarantees d ≤ 7 is recalled
    val strong = jaccardScored.collect { case (p, j) if j >= 0.97 => p }.toSet
    assert(strong.subsetOf(sh), s"missed strong pairs: ${strong -- sh}")
  }

  test("v10 semdedup set-level invariants (sf10 scale gate; canceled without localdata)") {
    // The full-corpus DuckDB oracle for v10 at sf10 is infeasible
    // (n·k window state exhausts its temp budget — SCALEGATE_r16) and
    // the vec_id slice thins within-cell structure, so this gate
    // certifies the declared report against an INDEPENDENT set-level
    // recomputation of the removed/kept partition over the same
    // assignment frame: per-cell distinct-removed SETS via a semi-join
    // route (vs the report's countDistinct), the kept complement, and
    // conservation laws. Runs only where the scale corpus exists
    // (scale-gate script / builder session), never in plain CI.
    val sf10 = "localdata/sf10"
    assume(new java.io.File(s"$sf10/embeddings.parquet").exists(),
      s"$sf10 absent — scale-gate-only case")
    import org.apache.spark.sql.functions._
    val e = graft.SessionCache(
      VectorPipeline.withNorm(spark, sf10)).where(col("nrm") > 0)
    val n = e.count()
    val k = math.max(VectorPipeline.SemMinClusters,
      n / VectorPipeline.SemCellTarget)
    val report = VectorPipeline.semDedupOn(e, k).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap

    // conservation: every non-zero-norm vector lands in exactly one
    // cell, and the report covers exactly the non-empty cells
    assert(report.values.map(_._1).sum === n)
    assert(report.keySet.forall(_ < k))

    val assigned = VectorPipeline.semAssign(e, k)
    val aa = assigned.select(col("seed_id"), col("vec_id").as("a_id"),
      col("embedding").as("ae"), col("nrm").as("an"))
    val bb = assigned.select(col("seed_id"), col("vec_id").as("b_id"),
      col("embedding").as("be"), col("nrm").as("bn"))
    val removed = aa.join(bb, Seq("seed_id"))
      .where(col("a_id") < col("b_id") &&
        expr(VectorPipeline.dotSql("ae", "be")) / (col("an") * col("bn"))
          >= VectorPipeline.NearDupCos)
      .select(col("seed_id"), col("b_id")).distinct()
    val remPerCell = removed.groupBy("seed_id")
      .agg(count(lit(1)).as("n_rem")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // two-sided: the report's per-cell n_removed equals the size of
    // the independently materialized removed SET, cell by cell
    report.foreach { case (cell, (_, _, nRemoved)) =>
      assert(remPerCell.getOrElse(cell, 0L) === nRemoved,
        s"cell $cell removed-count mismatch")
    }
    assert(remPerCell.keySet.subsetOf(report.keySet))

    // removed ∩ kept = ∅ and the partition is exact: kept (vectors
    // never appearing as a removed b_id) plus removed covers each cell
    val keptPerCell = assigned.join(removed.withColumnRenamed("b_id", "vec_id"),
        Seq("seed_id", "vec_id"), "left_anti")
      .groupBy("seed_id").agg(count(lit(1)).as("n_kept")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    report.foreach { case (cell, (nVec, _, nRemoved)) =>
      assert(keptPerCell.getOrElse(cell, 0L) === nVec - nRemoved,
        s"cell $cell kept+removed must partition the cell")
      assert(nVec - nRemoved >= 1,
        s"cell $cell: the smallest id in any dup pair survives by construction")
    }
    // zero pairs ⇔ zero removed
    report.foreach { case (cell, (_, nPairs, nRemoved)) =>
      assert((nPairs == 0) === (nRemoved == 0), s"cell $cell pair/removed parity")
    }
  }

  test("lm perplexity score matches an in-memory integer reference (td32)") {
    import spark.implicits._
    // planted corpus: src_a is templated (one phrase repeated — high
    // bigram probabilities, low bits-per-bigram), src_b is varied;
    // plus a 1-token doc (excluded) and an exactly-2-token doc
    val corpus = Seq(
      (1L, "src_a", "the quick brown fox jumps over the lazy dog"),
      (2L, "src_a", "the quick brown fox jumps over the lazy dog"),
      (3L, "src_a", "the quick brown fox sleeps"),
      (4L, "src_a", "one"),
      (5L, "src_b", "pack my box with five dozen liquor jugs"),
      (6L, "src_b", "how vexingly quick daft zebras jump"),
      (7L, "src_b", "the five boxing wizards jump quickly"),
      (8L, "src_b", "jugs jump"),
      (9L, "src_b", "sphinx of black quartz judge my vow the end"))
    val df = corpus.toDF("doc_id", "source", "text")

    // reference: exact integer arithmetic, independently formulated
    val toks = corpus.map { case (id, src, t) => (id, src, t.split(" ").toSeq) }
    val bigrams = toks.collect { case (id, src, ws) if ws.length >= 2 =>
      (id, src, ws.zip(ws.tail)) }
    val c12 = bigrams.flatMap(_._3).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val c1 = c12.groupBy(_._1._1).map { case (w, m) => w -> m.values.sum }
    def log2q(p: Long): Long = {
      val k = 63 - java.lang.Long.numberOfLeadingZeros(p)
      k.toLong * 4096L + (p - (1L << k)) * 4096L / (1L << k)
    }
    val bpbRef = bigrams.map { case (id, src, bs) =>
      val terms = bs.map { b =>
        val pq = math.max(1L, c12(b) * (1L << 20) / c1(b._1))
        81920L - log2q(pq)
      }
      (id, src, terms.sum / terms.size)
    }
    def quant(vs: Seq[Long], pct: Int): Long = {
      val sorted = vs.sorted
      val n = sorted.size.toLong
      sorted.zipWithIndex
        .collectFirst { case (v, i) if (i + 1) * 100 >= n * pct => v }.get
    }
    val expect = bpbRef.groupBy(_._2).map { case (src, rows) =>
      val vs = rows.map(_._3)
      src -> Seq(vs.size.toLong, vs.min, vs.max,
        quant(vs, 25), quant(vs, 50), quant(vs, 75), quant(vs, 95))
    }

    val got = TextPipeline.lmScoreOf(df).collect().map { r =>
      r.getString(0) -> (1 to 7).map(r.getLong).toSeq
    }.toMap
    assert(got.keySet === Set("src_a", "src_b"))
    assert(got("src_a") === expect("src_a"))
    assert(got("src_b") === expect("src_b"))
    // NOTE: a bigram that is its prefix's ONLY continuation has
    // conditional probability 1 (zero bits) however rare the prefix —
    // so an all-unique-phrases source can legitimately score LOWER
    // than a templated one whose shared prefixes split probability
    // mass ("the quick"/"the lazy"/"the end"). The invariant worth
    // pinning is the boundary: scores are bounded by the geometry.
    val all = got.values.flatMap(_.drop(1)) // min..p95 columns
    assert(all.forall(v => v >= 0L && v <= TextPipeline.LmProbScale.toLong *
      (1L << TextPipeline.LmLogF)))
  }

  test("quality-bucketed mixture matches an in-memory integer reference (td33)") {
    import spark.implicits._
    // planted: per source, enough scored docs with distinct bpb that
    // the tercile cuts split non-trivially; the 1-token doc is
    // excluded exactly as in td32
    val corpus = Seq(
      (1L, "src_a", "the quick brown fox jumps over the lazy dog"),
      (2L, "src_a", "the quick brown fox jumps over the lazy dog"),
      (3L, "src_a", "the quick brown fox sleeps"),
      (4L, "src_a", "one"),
      (5L, "src_b", "pack my box with five dozen liquor jugs"),
      (6L, "src_b", "how vexingly quick daft zebras jump"),
      (7L, "src_b", "the five boxing wizards jump quickly"),
      (8L, "src_b", "jugs jump"),
      (9L, "src_b", "sphinx of black quartz judge my vow the end"))
    val df = corpus.toDF("doc_id", "source", "text")

    // reference: exact integer arithmetic, independently formulated
    // (same LM reference as the td32 test, extended through buckets)
    val toks = corpus.map { case (id, src, t) => (id, src, t.split(" ").toSeq) }
    val bigrams = toks.collect { case (id, src, ws) if ws.length >= 2 =>
      (id, src, ws.zip(ws.tail)) }
    val c12 = bigrams.flatMap(_._3).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val c1 = c12.groupBy(_._1._1).map { case (w, m) => w -> m.values.sum }
    def log2q(p: Long): Long = {
      val k = 63 - java.lang.Long.numberOfLeadingZeros(p)
      k.toLong * 4096L + (p - (1L << k)) * 4096L / (1L << k)
    }
    val perDoc = bigrams.map { case (id, src, bs) =>
      val terms = bs.map { b =>
        val pq = math.max(1L, c12(b) * (1L << 20) / c1(b._1))
        81920L - log2q(pq)
      }
      (id, src, bs.size.toLong, terms.sum / terms.size)
    }
    def quant(vs: Seq[Long], pct: Int): Long = {
      val sorted = vs.sorted
      val n = sorted.size.toLong
      sorted.zipWithIndex
        .collectFirst { case (v, i) if (i + 1) * 100 >= n * pct => v }.get
    }
    val cuts = perDoc.groupBy(_._2).map { case (src, rows) =>
      src -> (quant(rows.map(_._4), 33), quant(rows.map(_._4), 66))
    }
    val factors = Map("head" -> 6L, "middle" -> 3L, "tail" -> 1L)
    val perBucket = perDoc
      .map { case (id, src, nbg, bpb) =>
        val (c33, c66) = cuts(src)
        val b = if (bpb <= c33) "head" else if (bpb <= c66) "middle" else "tail"
        (src, b, nbg)
      }
      .groupBy(t => (t._1, t._2))
      .map { case ((src, b), rows) =>
        (src, b, rows.size.toLong, rows.map(_._3).sum) }
      .toSeq
    val wTotal = perBucket.map { case (_, b, _, nbg) => factors(b) * nbg }.sum
    val expect = perBucket.map { case (src, b, nd, nbg) =>
      val w = factors(b) * nbg
      (src, b) -> Seq(nd, nbg, cuts(src)._1, cuts(src)._2, w,
        w * 1000000L / wTotal, w * 100000L / wTotal)
    }.toMap

    val got = TextPipeline.qualityMixtureOf(df).collect().map { r =>
      (r.getString(0), r.getString(1)) ->
        Seq(r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7), r.getLong(8))
    }.toMap
    assert(got.keySet === expect.keySet)
    expect.foreach { case (k, v) =>
      assert(got(k) === v, s"bucket row $k")
    }
    // bucketing is a partition: every scored doc lands in exactly one
    // (source, bucket) row, and the 1-token doc is excluded
    val nDocs = got.values.map(_.head).sum
    assert(nDocs === perDoc.size.toLong)
    // shares are a ppm partition of the whole draw (truncation may
    // lose up to |rows|-1 ppm, never gain)
    val shareSum = got.values.map(_(5)).sum
    assert(shareSum <= 1000000L && shareSum > 1000000L - got.size)
  }

  test("packed-lane simhash_pack signature is bit-identical to the retired 64-sum tree") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // real corpus: every sf0.001 document through both forms
    val hashed = graft.pipeline.TextPrep.shingleIndex(spark, dir)
      .withColumn("h2", graft.pipeline.TextPrep.h32b(col("shingle")))
    val kernel = TextPipeline.simhashSig(hashed)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val retired = TextPipeline.simhashSigVotes(hashed)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kernel.nonEmpty)
    assert(kernel === retired)
    // planted edge docs: tie votes (even shingle count, split bits),
    // single-shingle docs, and a large repeated-structure doc — the
    // sign boundary 2·c > n must agree exactly, including bit 63
    val edge = Seq(
      (1L, "a b c"),
      (2L, (0 until 400).map(i => s"t${i % 7}").mkString(" ")),
      (3L, "a b c d e f g h i j k l m n o p"),
      (4L, (0 until 64).map(i => s"u$i u$i").mkString(" ")))
      .toDF("doc_id", "text")
    val eh = graft.pipeline.TextPrep.shingleHashes(edge)
      .withColumn("h2", graft.pipeline.TextPrep.h32b(col("shingle")))
    val ek = TextPipeline.simhashSig(eh)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val er = TextPipeline.simhashSigVotes(eh)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ek === er)
    assert(ek.keySet === Set(1L, 2L, 3L, 4L))
  }

  test("simhash sorted-run pairs equal the brute-force Hamming reference") {
    import org.apache.spark.sql.functions._
    val sig = TextPipeline.simhashSig(
      graft.pipeline.TextPrep.shingleIndex(spark, dir)
        .withColumn("h2", graft.pipeline.TextPrep.h32b(col("shingle"))))
    // independent reference: every doc pair of the signature frame,
    // kept when bit_count(a ^ b) <= 7 — no banding, no candidates
    val reference = sig.as("a")
      .join(sig.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("long").as("hamming"))
      .where(col("hamming") <= TextPipeline.MaxHamming)
      .orderBy("doc_a", "doc_b")
      .collect().map(_.toSeq).toSeq
    assert(sig.count() === 500L)
    assert(reference.nonEmpty)
    val scan = TextPipeline.simHashPairsOf(sig).collect().map(_.toSeq).toSeq
    assert(scan === reference,
      "the Manku sorted-run scan must yield exactly the d<=7 pairs")
  }

  test("simhash band keys spread over the block-pair key space") {
    import org.apache.spark.sql.functions._
    val sig = TextPipeline.simhashSig(
      graft.pipeline.TextPrep.shingleIndex(spark, dir)
        .withColumn("h2", graft.pipeline.TextPrep.h32b(col("shingle"))))
    // 36 block-pair bands with 14/15-bit keys: on 500 near-uniform
    // signatures, (band, key) pairs should be nearly all distinct —
    // the old single-8-bit-band scheme (2 048 buckets total) topped
    // out around 1 500 here and saturated at corpus scale (the
    // measured td08 quadratic on the sf1→sf10 decade)
    val bandCols = TextPipeline.simBandKeys.map { case (band, keySql) =>
      expr(s"concat('$band:', CAST($keySql AS STRING))")
    }
    val banded = sig.select(explode(array(bandCols: _*)).as("k"))
    val total = banded.count()
    val distinctKeys = banded.distinct().count()
    assert(total === 500L * 36,
      s"expected 36 band rows per doc, got $total")
    assert(distinctKeys > total * 9 / 10,
      s"band-key cardinality $distinctKeys of $total — buckets too dense to scale")
  }

  test("dedup components form a consistent keep-list over the pair graph") {
    val comp = TextPipeline.dedupComponents(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("component"), r.getAs[Boolean]("is_duplicate"))).toMap
    // every near-dup pair must land in the same component
    jaccardPairs.foreach { case (a, b) =>
      assert(comp(a)._1 === comp(b)._1, s"pair ($a,$b) split across components")
    }
    // the root is the smallest member and the only non-duplicate
    comp.groupBy(_._2._1).foreach { case (root, members) =>
      assert(members.keys.min === root)
      assert(members.count(!_._2._2) === 1)
      assert(!comp(root)._2)
    }
  }

  test("components pointer-jump: a 200-link chain converges in O(log n) rounds") {
    import spark.implicits._
    // worst case for plain min-label propagation: one long path, whose
    // diameter (200) would need 200 rounds without pointer-jumping
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // driverMaxEdges = 0 forces the distributed Pregel path — the
    // adaptive regime would otherwise solve 200 edges on the driver
    val (labels, rounds) =
      TextPipeline.connectedComponents(chain, driverMaxEdges = 0)
    assert(rounds < 15, s"pointer-jumping should converge in ~log2(200) rounds, took $rounds")
    val byNode = labels.collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("root")).toMap
    assert(byNode.size === 201)
    assert(byNode.values.toSet === Set(0L), "all chain nodes must share root 0")
  }

  test("bigram novelty agrees with an in-memory recount") {
    val texts = graft.sources.Tables.table(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // independent recount: split mirrors Spark's split (keep empties)
    def bigrams(t: String): Seq[String] = {
      val a = t.split(" ", -1)
      if (a.length < 2) Seq.empty
      else a.init.zip(a.tail).map { case (x, y) => s"$x $y" }
    }
    val perDoc = texts.map { case (id, t) => id -> bigrams(t) }
    val df = perDoc.values.flatMap(_.distinct)
      .groupBy(identity).map { case (b, occ) => b -> occ.size.toLong }
    val got = TextPipeline.bigramNovelty(spark, dir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val bs = perDoc(id)
      assert(r.getAs[Long]("n_bigrams") === bs.size.toLong)
      assert(r.getAs[Long]("n_distinct_bigrams") === bs.distinct.size.toLong)
      assert(r.getAs[Long]("n_novel") === bs.count(b => df(b) == 1L).toLong)
      assert(r.getAs[Long]("sum_bigram_df") === bs.map(df).sum)
    }
    // the signal must separate: the corpus has both novel and shared mass
    assert(got.exists(_.getAs[Long]("n_novel") > 0))
    assert(got.exists(r => r.getAs[Long]("n_novel") < r.getAs[Long]("n_bigrams")))
  }

  test("random projection is an unbiased JL sketch that preserves angle signal") {
    // independent reimplementation of the frozen plane formula
    def mix(x0: Int): Int = {
      var x = x0
      x ^= x >>> 16; x *= 0x85ebca6b
      x ^= x >>> 13; x *= 0xc2b2ae35
      x ^= x >>> 16
      x
    }
    def plane(p: Int): Array[Double] =
      Array.tabulate(64)(i => (math.floorMod(mix((64 + p) * 64 + i), 11) - 5).toDouble)
    val planes = Array.tabulate(8)(plane)
    val vecs = graft.sources.Tables.table(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      .toMap
    val got = VectorPipeline.randomProjection(spark, dir).collect()
    assert(got.length === 128)
    // 1. each coordinate is exactly the plane dot product
    got.take(5).foreach { r =>
      val v = vecs(r.getAs[Long]("vec_id"))
      (0 until 8).foreach { p =>
        val want = planes(p).zip(v).map { case (w, x) => w * x }.sum
        assert(math.abs(r.getAs[Double](s"p$p") - want) < 1e-6)
      }
    }
    // 2. unbiased norm estimator: E[|Pv|²] = |v|² · Σₚ mean(wₚ²); the
    //    measured mean ratio over 128 vectors must sit near that factor
    //    (k = 8 ⇒ relative σ ≈ √(2/k) ≈ 0.5 per vector, ~0.04 for the mean)
    val expectFactor = planes.map(_.map(w => w * w).sum / 64.0).sum
    val ratios = got.map { r =>
      val v = vecs(r.getAs[Long]("vec_id"))
      val pn = (0 until 8).map(p => { val x = r.getAs[Double](s"p$p"); x * x }).sum
      pn / v.map(x => x * x).sum
    }
    val meanRatio = ratios.sum / ratios.length
    assert(meanRatio > 0.6 * expectFactor && meanRatio < 1.4 * expectFactor,
      s"norm ratio $meanRatio vs expected $expectFactor")
    // 3. angle signal survives: pairwise cosine before vs after must
    //    correlate positively (deterministic data ⇒ a fixed value,
    //    measured 0.29 at k = 8 — the JL noise floor for 64→8 dims)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    val ids = got.map(_.getAs[Long]("vec_id")).take(60)
    val projs = got.take(60).map(r => (0 until 8).map(p => r.getAs[Double](s"p$p")).toArray)
    val pairs = for { i <- ids.indices; j <- 0 until i } yield (i, j)
    val xs = pairs.map { case (i, j) => cos(vecs(ids(i)), vecs(ids(j))) }
    val ys = pairs.map { case (i, j) => cos(projs(i), projs(j)) }
    def pearson(a: Seq[Double], b: Seq[Double]): Double = {
      val (ma, mb) = (a.sum / a.size, b.sum / b.size)
      val cov = a.zip(b).map { case (x, y) => (x - ma) * (y - mb) }.sum
      val (va, vb) = (a.map(x => (x - ma) * (x - ma)).sum, b.map(y => (y - mb) * (y - mb)).sum)
      cov / math.sqrt(va * vb)
    }
    assert(pearson(xs, ys) > 0.2, s"cosine correlation ${pearson(xs, ys)} too weak")
  }

  test("pca power step agrees with an exact integer recount") {
    def mix(x0: Int): Int = {
      var x = x0
      x ^= x >>> 16; x *= 0x85ebca6b
      x ^= x >>> 13; x *= 0xc2b2ae35
      x ^= x >>> 16
      x
    }
    // the v13 probe: plane family member after near-dup (64) + rp (8)
    val w = Array.tabulate(64)(i =>
      (math.floorMod(mix((64 + 8) * 64 + i), 11) - 5).toLong)
    val qvs = graft.sources.Tables.table(spark, dir, "embeddings")
      .select("embedding").collect()
      .map(_.getAs[scala.collection.Seq[Float]]("embedding")
        .map(x => math.floor(x.toDouble * 1048576.0).toLong).toArray)
    val sQ = Array.fill(64)(0L)
    var sumTs = 0L
    qvs.foreach { qv =>
      val t = qv.zip(w).map { case (a, b) => a * b }.sum
      val ts = t >> 12 // arithmetic shift = the engines' floor shift
      sumTs += ts
      (0 until 64).foreach(i => sQ(i) += qv(i) * ts)
    }
    val got = VectorPipeline.pcaPowerStep(spark, dir).collect()
    assert(got.length === 64)
    got.foreach { r =>
      val d = r.getAs[Long]("dim").toInt
      assert(r.getAs[Long]("n_vecs") === qvs.length.toLong)
      assert(r.getAs[Long]("s_q") === sQ(d), s"dim $d")
      assert(r.getAs[Long]("sum_t_s") === sumTs)
    }
    assert(sQ.exists(_ != 0L), "the spectral probe must carry signal")
  }

  test("chunk overlap agrees with an in-memory chunking reference") {
    val (w, s) = (64L, 48L)
    val docs = graft.sources.Tables.table(spark, dir, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1).length.toLong))
    def chunks(n: Long): Seq[(Long, Long)] = { // (start, len)
      val k = if (n <= w) 1L else 1L + (n - w + s - 1) / s
      (0L until k).map(i => (i * s, math.min(w, n - i * s)))
    }
    val expect = docs.groupBy(_._1).map { case (src, ds) =>
      val cs = ds.map(d => chunks(d._2))
      src -> (ds.length.toLong, ds.map(_._2).sum,
        cs.map(_.length.toLong).sum, cs.map(_.map(_._2).sum).sum)
    }
    val got = TextPipeline.chunkOverlap(spark, dir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (nd, nt, nc, nct) = expect(r.getString(0))
      assert(r.getAs[Long]("n_docs") === nd)
      assert(r.getAs[Long]("total_tokens") === nt)
      assert(r.getAs[Long]("total_chunks") === nc)
      assert(r.getAs[Long]("total_chunk_tokens") === nct)
      assert(r.getAs[Long]("dup_factor_ppm") === nct * 1000000L / nt)
      // overlap duplication must actually occur for multi-chunk sources
      if (nc > nd) assert(nct > nt)
    }
  }

  test("heavy hitters: exact-direct and sketch regimes return identical top-k") {
    val d = graft.sources.Tables.table(spark, dir, "documents")
    val direct = TextPipeline.heavyHittersOf(
      spark, d, TextPipeline.HhK, TextPipeline.HhCapacity, exactDirect = true)
      .collect().map(_.toSeq).toSeq
    val sketch = TextPipeline.heavyHittersOf(
      spark, d, TextPipeline.HhK, TextPipeline.HhCapacity, exactDirect = false)
      .collect().map(_.toSeq).toSeq
    assert(direct === sketch)
  }

  test("exact dedup reports a full-corpus summary") {
    val r = TextPipeline.dedupExact(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_docs") === 500L)
    assert(r.getAs[Long]("n_distinct_texts") <= 500L)
  }

  test("semantic decontamination agrees with a brute-force recount") {
    val rows = VectorPipeline.semanticDecontam(spark, dir).collect()
    assert(rows.length === 10) // one report row per eval vector
    // Independent recount through a different plan (SQL over the raw
    // table, no broadcast/aggregate structure shared with the query).
    graft.sources.Tables.table(spark, dir, "embeddings")
      .createOrReplaceTempView("emb_v11")
    val expect = spark.sql(
      """WITH e AS (SELECT vec_id, embedding,
        |  sqrt(vec_dot(embedding, embedding)) AS nrm FROM emb_v11)
        |SELECT q.vec_id AS query_id,
        |  count(CASE WHEN vec_dot(q.embedding, c.embedding)/(q.nrm*c.nrm)
        |             >= 0.35D THEN 1 END) AS n_contaminated,
        |  max(vec_dot(q.embedding, c.embedding)/(q.nrm*c.nrm)) AS max_cos
        |FROM e q JOIN e c ON c.vec_id >= 10
        |WHERE q.vec_id < 10
        |GROUP BY q.vec_id ORDER BY q.vec_id""".stripMargin).collect()
    assert(rows.map(_.toSeq).toSeq === expect.map(_.toSeq).toSeq)
    // The flag bar actually separates: some query must see at least
    // one contaminated corpus item OR a max_cos below the bar —
    // i.e. the report is not vacuously all-zero with max at the bar.
    assert(rows.exists(r => r.getAs[Long]("n_contaminated") > 0) ||
      rows.exists(r => r.getAs[Double]("max_cos") < VectorPipeline.DecontamCos))
  }

  test("brute-force ANN returns exactly top-k per query, cos in [-1,1]") {
    val rows = VectorPipeline.annBrute(spark, dir).collect()
    assert(rows.length === 30) // 10 queries × k=3
    assert(rows.forall(r => math.abs(r.getAs[Double]("cos")) <= 1.0))
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.forall { case (_, rs) =>
      rs.map(_.getAs[Long]("rnk")).sorted.sameElements(1L to 3L)
    })
  }

  test("LSH ANN results are a subset-ranking consistent with brute force") {
    val brute = VectorPipeline.annBrute(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("cos"))).toSet
    val lsh = VectorPipeline.annLsh(spark, dir).collect()
    // Every LSH hit shares the query's bucket; its cosine must equal
    // the exact cosine (same fold), so any (q,n) pair present in both
    // must carry an identical score.
    val bruteMap = brute.map { case (q, n, c) => (q, n) -> c }.toMap
    lsh.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      bruteMap.get(key).foreach(c => assert(c === r.getAs[Double]("cos")))
    }
  }

  test("IVF ANN returns k ranked candidates per query with exact scores") {
    val rows = VectorPipeline.annIvf(spark, dir).collect()
    assert(rows.length === 30) // 10 queries × k=3 (lists ≥ k members here)
    val brute = VectorPipeline.annBrute(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Double]("cos")).toMap
    // scores for pairs that also appear in brute-force must be identical
    rows.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      brute.get(key).foreach(c => assert(c === r.getAs[Double]("cos")))
    }
  }

  test("v08 recall report equals set intersections of the three ANN results") {
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val brute = pairs(VectorPipeline.annBrute(spark, dir))
    val lsh = pairs(VectorPipeline.annLsh(spark, dir))
    val ivf = pairs(VectorPipeline.annIvf(spark, dir))
    val got = VectorPipeline.annRecall(spark, dir).collect()
    assert(got.map(_.getAs[Long]("query_id")).toSeq === (0L until 10L))
    got.foreach { r =>
      val q = r.getAs[Long]("query_id")
      val trueK = brute.filter(_._1 == q)
      assert(r.getAs[Long]("n_true") === trueK.size.toLong)
      assert(r.getAs[Long]("lsh_hits") === trueK.count(lsh.contains).toLong)
      assert(r.getAs[Long]("ivf_hits") === trueK.count(ivf.contains).toLong)
      assert(r.getAs[Long]("lsh_recall_ppm") ===
        r.getAs[Long]("lsh_hits") * 1000000L / r.getAs[Long]("n_true"))
      assert(r.getAs[Long]("ivf_recall_ppm") ===
        r.getAs[Long]("ivf_hits") * 1000000L / r.getAs[Long]("n_true"))
    }
  }

  // Planted near-dup corpus: 200 deterministic pseudo-random base
  // vectors (uniform [-1,1] per dim via a murmur-finalizer mix) plus
  // 40 noisy copies at ~0.95 cosine to their base. The REAL testdata
  // embeddings contain no pairs above cos 0.51, so near-dup recall
  test("jaccard dedup survives a planted Zipf hot shingle (df cap kills the hot key)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Zipf head: one 12-word boilerplate sentence in EVERY doc (10
    // shingles at df = 400, way past the cap); Zipf tail: 10 unique
    // words per doc (df-1 shingles). 10 planted dup pairs share tails.
    val boiler = (0 until 12).map(w => s"b$w").mkString(" ")
    def tail(seed: Int) = (0 until 10).map(w => s"u${seed}_$w").mkString(" ")
    val docs = (0 until 400).map(i => (i.toLong, "en", "src0", s"$boiler ${tail(i)}")) ++
      (0 until 10).map(i => (400L + i, "en", "src0", s"$boiler ${tail(i)}"))
    val dir = java.nio.file.Files.createTempDirectory("zipf_docs").toString
    docs.toDF("doc_id", "lang", "source", "text")
      .write.parquet(s"$dir/documents.parquet")

    val dfCap = 50L
    val pairs = TextPipeline.dedupJaccard(spark, dir, dfCap)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === (0 until 10).map(i => (i.toLong, 400L + i)).toSet)

    // Mechanism evidence, measured on the same corpus: candidate-pair
    // work is Σ df·(df−1)/2 over shingles entering the self-join.
    val sh = graft.pipeline.TextPrep.shingles(
      graft.sources.Tables.table(spark, dir, "documents"))
    val dfs = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    def pairWork(d: org.apache.spark.sql.DataFrame): Long = d
      .agg(sum(expr("df * (df - 1) DIV 2"))).collect()(0).getLong(0)
    val uncapped = pairWork(dfs)
    val capped = pairWork(dfs.where(col("df") <= dfCap))
    // without the cap the hot boilerplate shingles alone contribute
    // 10 × C(410,2) ≈ 840k candidate pairs — the n² melt
    assert(uncapped > 800000L, s"planted skew too weak: $uncapped")
    // with the cap, only the planted tails survive: tiny and flat
    assert(capped < 200L, s"df cap failed to bound candidates: $capped")
    // and no surviving join key exceeds the cap, so no hash partition
    // can receive more than dfCap² work from any single shingle —
    // per-key input is bounded wherever the key lands
    val maxDf = dfs.where(col("df") <= dfCap)
      .agg(max(col("df"))).collect()(0).getLong(0)
    assert(maxDf <= dfCap)
  }

  test("repetition metrics flag planted loops and clear diverse text (td13)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "src0", Seq.fill(40)("spam").mkString(" ")), // one token looped
      (2L, "en", "src0", ((0 until 10).map(i => s"w$i") ++ (0 until 10).map(i => s"w$i")
        ++ (0 until 10).map(i => s"w$i")).mkString(" ")), // phrase looped 3x
      (3L, "en", "src0", (0 until 40).map(i => s"uniq$i").mkString(" ")), // diverse
      (4L, "en", "src0", "just two")) // < 3 tokens: no trigram metrics
    val dir = java.nio.file.Files.createTempDirectory("rep_docs").toString
    docs.toDF("doc_id", "lang", "source", "text")
      .write.parquet(s"$dir/documents.parquet")
    val rows = TextPipeline.repetition(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(1L).getAs[Double]("top_token_frac") === 1.0)
    assert(rows(1L).getAs[Double]("dup_3gram_frac") > 0.9)
    assert(rows(1L).getAs[Long]("is_repetitive") === 1L)
    // looped phrase: every token appears 3x, and 2 of every 3 trigram
    // instances are repeats of an earlier one
    assert(rows(2L).getAs[Double]("uniq_token_ratio") < 0.4)
    assert(rows(2L).getAs[Long]("is_repetitive") === 1L)
    assert(rows(3L).getAs[Double]("uniq_token_ratio") === 1.0)
    assert(rows(3L).getAs[Double]("dup_3gram_frac") === 0.0)
    assert(rows(3L).getAs[Long]("is_repetitive") === 0L)
    // short doc still present, trigram metric defaults to 0
    assert(rows(4L).getAs[Long]("n_tokens") === 2L)
    assert(rows(4L).getAs[Double]("dup_3gram_frac") === 0.0)
  }

  test("substring spans: planted shared span counted per occurrence (td15)") {
    import spark.implicits._
    val shared = (0 until 8).map(i => s"boiler$i").mkString(" ") // one 8-gram
    val docs = Seq(
      // srcA doc 1 contains the shared span TWICE (within-doc dup
      // counts): tokens [shared ++ pad ++ shared]
      (1L, "en", "srcA", s"$shared padA1 padA2 $shared"),
      // srcB doc carries the same span once → cross-source dup
      (2L, "en", "srcB", s"lead1 lead2 $shared tail1"),
      // srcC is all-unique spans → zero dup fraction
      (3L, "en", "srcC", (0 until 20).map(i => s"only$i").mkString(" ")),
      // srcD too short for any 8-token span → absent from output
      (4L, "en", "srcD", "a b c d e f g"))
    val dir = java.nio.file.Files.createTempDirectory("span_docs").toString
    docs.toDF("doc_id", "lang", "source", "text")
      .write.parquet(s"$dir/documents.parquet")
    val rows = TextPipeline.substringDedup(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_spans"), r.getAs[Long]("n_dup_spans")))).toMap
    // doc 1: 18 tokens → 11 spans; the exact `shared` gram occurs at
    // positions 1 and 11 (2 occurrences) and nowhere else in srcA —
    // but EVERY span of doc 1 that appears once is unique, so only
    // those 2 occurrences are duplicated within srcA... unless a span
    // overlapping the pads repeats — it can't (pads are unique).
    assert(rows("srcA")._1 === 11L)
    assert(rows("srcA")._2 === 2L) // both occurrences of the shared span
    assert(rows("srcB") === ((4L, 1L))) // its single copy is duplicated
    assert(rows("srcC") === ((13L, 0L)))
    assert(!rows.contains("srcD"))
  }

  test("row-local simhash signature is bit-identical to the grouped form") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // seeded random corpus over a small vocab: repeated tokens, varied
    // lengths, some docs below the 3-token shingle floor
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 40).map(i => s"w$i")
    val docs = (1L to 60L).map { i =>
      val len = 1 + rnd.nextInt(60)
      (i, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")

    val grouped = TextPipeline.simhashSig(
      graft.pipeline.TextPrep.shingleHashes(df)
        .withColumn("h2", graft.pipeline.TextPrep.h32b(col("shingle"))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val local = df
      .withColumn("t", split(col("text"), " "))
      .where(size(col("t")) >= 3)
      .withColumn("sh", expr(
        "array_distinct(transform(sequence(1, size(t) - 2), " +
          "i -> concat(element_at(t, i), ' ', element_at(t, i + 1), ' ', element_at(t, i + 2))))"))
      .withColumn("hs", expr(
        "transform(sh, s -> CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT))"))
      .withColumn("hs2", expr(
        "transform(sh, s -> CAST(conv(substring(md5(s), 9, 8), 16, 10) AS BIGINT))"))
      .select(col("doc_id"), TextPipeline.simhashLocal("hs", "hs2").as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    assert(local === grouped)
    assert(grouped.nonEmpty)
  }

  test("source overlap counts shared sketches across sources; cap drops viral templates (td14)") {
    import spark.implicits._
    val t1 = (0 until 10).map(i => s"one$i").mkString(" ")
    val t2 = (0 until 10).map(i => s"two$i").mkString(" ")
    val docs = Seq(
      (1L, "en", "src_a", t1), (2L, "en", "src_b", t1), // shared sketch 1
      (3L, "en", "src_a", t2), (4L, "en", "src_b", t2), // shared sketch 2
      (5L, "en", "src_c", (0 until 10).map(i => s"three$i").mkString(" ")))
    val dir = java.nio.file.Files.createTempDirectory("overlap_docs").toString
    docs.toDF("doc_id", "lang", "source", "text")
      .write.parquet(s"$dir/documents.parquet")
    val rows = TextPipeline.sourceOverlap(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(rows === Map(("src_a", "src_b") -> 2L))
    // a sketch present in more docs than the cap is a viral template:
    // dropped before the pair join, so the overlap disappears
    assert(TextPipeline.sourceOverlap(spark, dir, dfCap = 1).isEmpty)
  }

  test("kmeans step agrees with an in-memory Lloyd iteration exactly (v06)") {
    val got = VectorPipeline.kmeansStep(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

    // Independent reference: the same quantized Lloyd iteration over
    // the collected corpus, in plain Scala.
    val embs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x =>
          math.floor(x.toDouble * (1L << 20)).toLong).toArray)
      .sortBy(_._1)
    val seeds = embs.take(8).map(_._2)
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def argmin(v: Array[Long], cs: Array[Array[Long]]): Int =
      cs.indices.minBy(c => (d2(v, cs(c)), c))
    val firstPass = embs.map { case (_, v) => argmin(v, seeds) }
    val byCluster = embs.zip(firstPass).groupBy(_._2)
    val cents = (0 until 8).map { c =>
      val members = byCluster(c).map(_._1._2)
      c -> Array.tabulate(64) { d =>
        math.floor(members.map(_(d)).sum.toDouble / members.size).toLong
      }
    }.toMap
    val centArr = (0 until 8).map(cents).toArray
    val secondPass = embs.map { case (_, v) => argmin(v, centArr) }
    val expect = (0 until 8).map { c =>
      c.toLong -> ((
        byCluster(c).size.toLong,
        cents(c).zip(seeds(c)).map { case (m, s0) => math.abs(m - s0) }.sum,
        secondPass.count(_ == c).toLong))
    }.toMap
    assert(got === expect)
    // seeds always capture their own vector, and the iteration must
    // actually move centroids on real data
    assert(got.values.forall(_._1 >= 1L))
    assert(got.values.map(_._2).sum > 0L)
  }

  test("diverse sample: per-cluster quota, contiguous ranks, stable picks (v07)") {
    val rows = VectorPipeline.diverseSample(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val byCluster = rows.groupBy(_._1)
    byCluster.foreach { case (_, rs) =>
      assert(rs.length <= 12)
      assert(rs.map(_._2).sorted.sameElements(1L to rs.length))
    }
    // selections are documents, picked once
    val ids = rows.map(_._3)
    assert(ids.distinct.length === ids.length)
    val docLang = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { case (_, _, id, lang) => assert(docLang(id) === lang) }
    // deterministic under re-evaluation (hash-order pick, not RNG)
    val again = VectorPipeline.diverseSample(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.sameElements(again))
  }

  test("stratified split keys on content: byte-identical dupes share a split (td16)") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-td16").toString
    // one body planted under two languages and ids, plus distinct
    // bodies spread so at least two splits are non-empty
    val dupe = "shared body that must land in exactly one split"
    (Seq((1L, dupe, "en", "web"), (2L, dupe, "fr", "web")) ++
      (3L to 400L).map(i => (i, s"unique body $i", "en", "web")))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = TextPipeline.stratifiedSplit(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._3).sum === 400L) // every document lands somewhere
    // the fr rows are exactly the planted dupe; its split must equal
    // the split of the identical en body (content-hash keying)
    val frSplits = rows.filter(_._2 === "fr").map(_._1)
    assert(frSplits.length === 1)
    val enWithDupe = rows.filter(r => r._2 === "en" && r._1 === frSplits.head)
    assert(enWithDupe.nonEmpty,
      "the en copy of the duped body must sit in the same split")
    // roughly 98/1/1: train dominates on 400 uniform hashes
    val train = rows.filter(_._1 === "train").map(_._3).sum
    assert(train > 350L)
  }

  test("rarity score matches an in-memory df computation; rare tokens flagged (td17)") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-td17").toString
    // 150 common-only docs + one doc holding the corpus's single rare
    // token (df=1, 1*100 < 151)
    ((1L to 150L).map(i => (i, "the table row", "en", "web")) :+
      (151L, "zzyzx the", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = TextPipeline.rarityScore(spark, d).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // common docs: 3 tokens, 3 distinct, df(the)=151 df(table)=150
    // df(row)=150 → sum 451, no rare
    assert(got(1L) === ((3L, 3L, 451L, 0L)))
    // rare doc: zzyzx df=1 (rare), the df=151 → sum 152
    assert(got(151L) === ((2L, 2L, 152L, 1L)))
  }

  test("pack chunks agrees with an in-memory concat-and-chunk reference (td18)") {
    val got = TextPipeline.packChunks(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap

    def h32(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(8)
      java.lang.Long.parseLong(hex, 16)
    }
    val docsRows = spark.read.parquet(s"$dir/documents.parquet")
      .select("lang", "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val want = docsRows.groupBy(_._1).map { case (lang, rs) =>
      val ordered = rs.map { case (_, id, text) =>
        (h32(text), id, text.split(" ", -1).length.toLong)
      }.sortBy(t => (t._1, t._2))
      var off = 0L
      var boundary = 0L
      var maxSpan = 0L
      ordered.foreach { case (_, _, n) =>
        val first = off / 512
        val last = (off + n - 1) / 512
        if (last > first) boundary += 1
        maxSpan = math.max(maxSpan, last - first + 1)
        off += n
      }
      lang -> ((ordered.length.toLong, off, (off + 511) / 512, boundary,
        maxSpan))
    }
    assert(got === want)
    // the packing must actually split some documents on this corpus
    assert(got.values.map(_._4).sum > 0L)
  }

  test("embedding stats flag zero/non-finite vectors and dim drift (v05)") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array.fill(4)(1.0f)), // norm 2
      (2L, Array.fill(4)(0.0f)), // zero vector
      (3L, Array(1.0f, Float.NaN, 0f, 0f)), // NaN element
      (4L, Array(1.0f, Float.PositiveInfinity, 0f, 0f)), // inf element
      (5L, Array(3.0f, 4.0f))) // dim drift, norm 5
    val dir = java.nio.file.Files.createTempDirectory("emb_stats").toString
    vecs.toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    val r = VectorPipeline.embeddingStats(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_vecs") === 5L)
    assert(r.getAs[Long]("dim_min") === 2L)
    assert(r.getAs[Long]("dim_max") === 4L)
    assert(r.getAs[Long]("n_zero") === 1L)
    assert(r.getAs[Long]("n_nonfinite") === 2L)
    // norm stats exclude the non-finite rows but keep the zero vector
    assert(r.getAs[Double]("min_norm") === 0.0)
    assert(r.getAs[Double]("max_norm") === 5.0)
    assert(r.getAs[Double]("p50_norm") === 2.0)
  }

  // can only be proven on planted structure.
  private def mix(x0: Int): Int = {
    var x = x0
    x ^= x >>> 16; x *= 0x85ebca6b
    x ^= x >>> 13; x *= 0xc2b2ae35
    x ^= x >>> 16
    x
  }

  private lazy val planted = {
    val base = (0 until 200).map { i =>
      Array.tabulate(64)(d => mix(i * 64 + d).toFloat / Int.MaxValue)
    }
    val dups = (0 until 40).map { i =>
      base(i * 5).zipWithIndex.map { case (v, d) =>
        v + 0.3f * mix(1000000 + i * 64 + d).toFloat / Int.MaxValue
      }
    }
    import spark.implicits._
    (base.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      dups.zipWithIndex.map { case (v, i) => (200L + i, v) })
      .toDF("vec_id", "embedding")
  }

  test("LSH near-dup recalls >= 0.95 of planted near-dups with exact scores") {
    val e = VectorPipeline.normed(planted)
    val brute = VectorPipeline.nearDupOn(e).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")) ->
        r.getAs[Double]("cos")).toMap
    assert(brute.size >= 40, s"planting failed: only ${brute.size} true pairs")
    val lsh = VectorPipeline.nearDupLshOn(e).collect()
    assert(lsh.nonEmpty, "banded LSH must surface near-dup pairs")
    // Banding only prunes candidates — every surviving pair must exist
    // in the exact all-pairs result with a bit-identical cosine.
    lsh.foreach { r =>
      val key = (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))
      assert(brute.contains(key), s"LSH emitted non-near-dup pair $key")
      assert(brute(key) === r.getAs[Double]("cos"))
    }
    // recall floor at the judge-specified bar: 8 bands × 8 planes give
    // per-pair miss probability (1-p⁸)⁸ < 1% at cos ≈ 0.95
    assert(lsh.length >= math.ceil(0.95 * brute.size).toInt,
      s"LSH recall too low: ${lsh.length}/${brute.size}")
  }

  test("LSH banding prunes: candidates < 5% of all pairs on real testdata") {
    val e = VectorPipeline.normed(
      spark.read.parquet(s"$dir/embeddings.parquet"))
    val n = e.count()
    val cand = VectorPipeline.ndCandidates(e).count()
    val frac = cand.toDouble / (n * (n - 1) / 2)
    assert(frac < 0.05, s"candidate fraction $frac — banding is not pruning")
  }

  test("declared near-dup query is empty on testdata (no true near-dups)") {
    // max pairwise cos in the synthetic embeddings is ~0.51 at every
    // SF — far below the 0.8 near-dup bar, so the declared query's
    // correct output is zero rows (and the plan must still build/run)
    assert(VectorPipeline.nearDupLsh(spark, dir).isEmpty)
  }

  test("v10 semdedup equals an in-memory cluster-scoped pair count") {
    val e = VectorPipeline.normed(planted)
    val got = VectorPipeline.semDedupOn(e, 8L).collect()
      .map(r => r.getAs[Long]("seed_id") ->
        ((r.getAs[Long]("n_vectors"), r.getAs[Long]("n_dup_pairs"),
          r.getAs[Long]("n_removed")))).toMap

    // in-memory mirror: same argmax assignment, same within-cell
    // pairwise threshold, same min-id removal rule
    val vecs = planted.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(x: Array[Float], y: Array[Float]): Double =
      x.indices.foldLeft(0.0)((acc, i) => acc + x(i).toDouble * y(i).toDouble)
    def cos(a: Long, b: Long): Double =
      dot(vecs(a), vecs(b)) /
        (math.sqrt(dot(vecs(a), vecs(a))) * math.sqrt(dot(vecs(b), vecs(b))))
    val assign = vecs.keys.map { v =>
      v -> (0L until 8L).minBy(sd => (-cos(v, sd), sd))
    }.toMap
    val ids = vecs.keySet.toSeq.sorted
    val cellPairs = for {
      i <- ids; j <- ids
      if i < j && assign(i) == assign(j) && cos(i, j) >= 0.8
    } yield (assign(i), i, j)
    val want = ids.groupBy(assign).map { case (sd, members) =>
      val ps = cellPairs.filter(_._1 == sd)
      sd -> ((members.size.toLong, ps.size.toLong,
        ps.map(_._3).distinct.size.toLong))
    }
    assert(got === want)
    // the planting produced real work: some cell found dup pairs
    assert(got.values.map(_._2).sum > 0, "no dup pairs — planting failed")
    // cluster scoping found most of the true near-dup population:
    // the SemDeDup premise is that semantic dups share a cell
    val truePairs = VectorPipeline.nearDupOn(e).count()
    assert(got.values.map(_._2).sum >= math.ceil(0.8 * truePairs).toLong,
      s"cell-scoped pairs ${got.values.map(_._2).sum} vs $truePairs true")
  }

  test("v10 excludes zero-norm vectors instead of NaN-ranking them") {
    // a 0-vector's cosine is 0/0 = NaN, which Spark's argmax fold
    // ranks LAST but a SQL window's DESC ranks FIRST — so the audit
    // DROPS directionless vectors on both engines rather than letting
    // them silently diverge (see the semDedupOn filter note)
    import spark.implicits._
    val withZero = planted.unionAll(
      Seq((9999L, Array.fill(64)(0.0f).toSeq)).toDF("vec_id", "embedding"))
    val e = VectorPipeline.normed(withZero)
    val base = VectorPipeline.semDedupOn(VectorPipeline.normed(planted), 8L)
      .collect().toSeq
    val got = VectorPipeline.semDedupOn(e, 8L).collect().toSeq
    assert(got === base, "the zero vector must not reach any cell")
  }

  test("nd_band_keys kernel is bit-identical to the retired expression tree") {
    // the kernel (one JIT-able triple loop) replaced 64 inlined
    // CASE WHEN vec_dot(...) expressions whose fused codegen exceeded
    // the JIT huge-method limit; its arithmetic contract is exact
    // equality with that tree (same ordered fold, float->double
    // widening, strict > 0, bit packing) on every corpus
    for (src <- Seq(
        spark.read.parquet(s"$dir/embeddings.parquet")
          .select("vec_id", "embedding"),
        planted)) {
      val legacy = (0 until 8).map(j =>
        VectorPipeline.ndBandKey(j).as(s"l$j"))
      import org.apache.spark.sql.functions.{col, expr}
      val rows = src
        .select((col("vec_id") +:
          expr("nd_band_keys(embedding)").as("bks") +: legacy): _*)
        .collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val kernel = r.getSeq[Int](1)
        val tree = (0 until 8).map(j => r.getInt(2 + j))
        assert(kernel === tree, s"vec_id ${r.getLong(0)}")
      }
    }
    // degenerate input: a wrong-dimension vector must THROW, not skew
    import spark.implicits._
    val bad = Seq((1L, Seq.fill(63)(0.5f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      bad.selectExpr("nd_band_keys(embedding)").collect()
    }
    assert(ex.getMessage.contains("63") ||
      Option(ex.getCause).exists(_.getMessage.contains("63")))
  }

  test("v03 declared query refuses above the corpus-size cap, pointing at v10") {
    // the fixed-bucket banding is quadratic in corpus size; the
    // declared query must fail loudly (td19 certify-or-refuse
    // pattern) rather than start a 100x run that cannot finish
    val ex = intercept[IllegalArgumentException] {
      VectorPipeline.nearDupLsh(spark, dir, maxVectors = 3L)
    }
    assert(ex.getMessage.contains("v10_semdedup"),
      "the refusal must point at the linear-work alternative")
    assert("\\d+ vectors exceed the cap of 3 ".r
      .findFirstIn(ex.getMessage).isDefined,
      s"the refusal must name the vector count and the cap: ${ex.getMessage}")
    // under the default cap the declared query still builds and runs
    assert(VectorPipeline.nearDupLsh(spark, dir).isEmpty)
  }

  test("jaccard df-cap drops hot shingles from the candidate join") {
    // cap 0 drops every shingle → no candidates at all
    assert(TextPipeline.dedupJaccard(spark, dir, dfCap = 0L).isEmpty)
    // a cap far above the corpus df ceiling changes nothing vs default
    val capped = TextPipeline.dedupJaccard(spark, dir).collect().toSeq
    val loose =
      TextPipeline.dedupJaccard(spark, dir, dfCap = Long.MaxValue).collect().toSeq
    assert(capped === loose)
  }

  test("language-ID confusion matrix covers every document") {
    val total = TextPipeline.langId(spark, dir)
      .agg(org.apache.spark.sql.functions.sum("n_docs")).collect()(0).getLong(0)
    assert(total === 500L)
  }

  test("td03 language-ID on an empty corpus returns an empty confusion matrix") {
    val d = java.nio.file.Files.createTempDirectory("graft-lang-empty").toString
    spark.read.parquet(s"$dir/documents.parquet").limit(0)
      .write.parquet(s"$d/documents.parquet")
    val out = TextPipeline.langId(spark, d)
    assert(out.columns.toSeq === Seq("lang", "predicted_lang", "n_docs"))
    assert(out.collect().isEmpty)
  }

  test("td03 language-ID excludes null labels from the classes, still scores their docs") {
    import org.apache.spark.sql.functions._
    val src = spark.read.parquet(s"$dir/documents.parquet")
    val d = java.nio.file.Files.createTempDirectory("graft-lang-null").toString
    src.withColumn("lang",
        when(col("doc_id") % 3 === 0, lit(null).cast("string")).otherwise(col("lang")))
      .write.parquet(s"$d/documents.parquet")
    val rows = TextPipeline.langId(spark, d).collect()
    val labels = src.select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(rows.map(_.getLong(2)).sum === 500L, "every document is scored")
    assert(rows.exists(_.isNullAt(0)), "null-label docs are reported under a null lang")
    assert(rows.forall(r => !r.isNullAt(1) && labels.contains(r.getString(1))),
      "a null label is never a predicted class")
    // no non-null label at all: no classes, empty result
    val d0 = java.nio.file.Files.createTempDirectory("graft-lang-allnull").toString
    src.withColumn("lang", lit(null).cast("string"))
      .write.parquet(s"$d0/documents.parquet")
    assert(TextPipeline.langId(spark, d0).collect().isEmpty)
  }

  test("fingerprints are stable across invocations") {
    val a = TextPipeline.fingerprint(spark, dir).collect().toSeq
    val b = TextPipeline.fingerprint(spark, dir).collect().toSeq
    assert(a === b)
  }

  test("td19 heavy hitters equals the exact in-memory top-k") {
    val got = TextPipeline.heavyHitters(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val exact = spark.read.parquet(s"$dir/documents.parquet")
      .select("text").collect().iterator
      .flatMap(_.getString(0).split(" ", -1))
      .toSeq.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (t, c) => (-c, t) }.take(20)
    assert(got === exact)
  }

  test("td19 stays exact when the sketch must evict (tail >> capacity)") {
    import spark.implicits._
    // 5 head tokens × 100 docs + 2000 singleton-tail docs: 2005
    // distinct tokens vs capacity 64 forces eviction, and the head
    // count (100) clears the miss bound 2500/65 ≈ 38 — provably exact
    val head = (1 to 5).flatMap(h => Seq.fill(100)(s"head$h"))
    val tail = (1 to 2000).map(t => f"tail$t%04d")
    val df = new scala.util.Random(42).shuffle(head ++ tail).toDF("text")
    val got = TextPipeline.heavyHittersOf(spark, df, k = 5, capacity = 64)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === (1 to 5).map(h => (s"head$h", 100L)))
  }

  test("td20 bigram step equals the exact in-memory adjacent-pair top-k") {
    val got = TextPipeline.bigramStep(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val exact = spark.read.parquet(s"$dir/documents.parquet")
      .select("text").collect().iterator
      .flatMap { r =>
        val a = r.getString(0).split(" ", -1)
        a.iterator.zip(a.iterator.drop(1)).map { case (x, y) => s"$x $y" }
      }
      .toSeq.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (t, c) => (-c, t) }.take(20)
    assert(got === exact)
    assert(got.nonEmpty)
  }

  test("td19 escalates capacity on uniform data until provably exact") {
    import spark.implicits._
    // 300 singletons starting at capacity 16: never separable (k-th
    // count 1 is far below every miss bound), so the sketch escalates
    // — first failure buys the HLL distinct estimate and the second
    // attempt jumps to ~331 > 300 distinct = lossless mode, exact
    val df = (1 to 300).map(t => f"u$t%03d").toDF("text")
    val got = TextPipeline.heavyHittersOf(spark, df, k = 5, capacity = 16)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === (1 to 5).map(t => (f"u$t%03d", 1L)))
  }

  test("td19 escalation terminal is one live exact aggregate, not a second sketch") {
    import spark.implicits._
    // r20: once the HLL-informed jump lands inside the ceiling, the
    // ladder returns the exact groupBy top-k directly. Structural pin:
    // the returned frame is a LIVE aggregate plan over the token frame
    // (codegen hash aggregate), not a driver-materialized
    // LocalRelation from a lossless re-sketch — so no second
    // typed-aggregate corpus pass ever runs on the escalation path.
    val df = (1 to 300).map(t => f"u$t%03d").toDF("text")
    val got = TextPipeline.heavyHittersOf(spark, df, k = 5, capacity = 16)
    // the pre-r20 ladder returned a driver-materialized LocalRelation
    // (no aggregate anywhere in the plan); the live exact form keeps
    // the groupBy visible
    assert(got.queryExecution.optimizedPlan.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.Aggregate]),
      s"expected a live exact aggregate, got:\n${got.queryExecution.optimizedPlan}")
    assert(got.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      === (1 to 5).map(t => (f"u$t%03d", 1L)))
  }

  test("mg recount-futility bound fires on uniform profiles, never on separable heads") {
    // r20: the escalation ladder skips the exact recount pass when the
    // sketch alone proves certification must fail. The bound must be
    // (a) sound — never true when the recount could certify — and
    // (b) useful — true on the near-uniform profiles that escalate.
    // Uniform remnant: 4 stored singletons of a 1000-token stream at
    // capacity 3 → k-th stored (1) + undercount bound 249 == miss
    // bound 250 → provably cannot EXCEED it → futile (boundary case).
    assert(TextPipeline.mgRecountFutile(
      Map("a" -> 1L, "b" -> 1L, "c" -> 1L, "d" -> 1L), 1000L, 3, 2))
    // Zipf head: stored 500/300 of the same stream → k-th stored 300 +
    // bound 50 > 250 → the recount could certify, must not be skipped.
    assert(!TextPipeline.mgRecountFutile(
      Map("a" -> 500L, "b" -> 300L, "c" -> 1L), 1000L, 3, 2))
    // Fewer than k candidates: top-k can never have k rows → futile.
    assert(TextPipeline.mgRecountFutile(Map("a" -> 900L), 1000L, 3, 2))
  }

  test("td19 sketch-evicting separable corpus still recounts exactly (futility bound stays off)") {
    import spark.implicits._
    // Same shape as the evict test but asserted through the futility
    // bound's inputs: head count 100 ≫ miss bound, so the pre-check
    // must leave the recount path alone and the first attempt
    // certifies — a regression here would surface as escalation to
    // lossless (still correct) and a 2× pass count at scale.
    val head = (1 to 5).flatMap(h => Seq.fill(100)(s"head$h"))
    val tail = (1 to 500).map(t => f"tail$t%03d")
    val toks = new scala.util.Random(7).shuffle(head ++ tail).toDF("token")
    val mg = toks.as[String]
      .select(new graft.functions.MisraGries(64).toColumn).head()
    assert(mg.counts.valuesIterator.sum < mg.total, "sketch must evict")
    assert(!TextPipeline.mgRecountFutile(mg.counts, mg.total, 64, 5),
      "separable head must not be declared futile")
  }

  test("td21 per-source quantiles equal an in-memory rank computation") {
    val got = TextPipeline.sourceQuality(spark, dir).collect()
      .map(r => r.getString(0) -> (1 to 7).map(r.getLong).toSeq).toMap
    val scored = TextPipeline.scoreQuality(
        spark.read.parquet(s"$dir/documents.parquet"))
      .select("source", "quality_score").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val want = scored.groupBy(_._1).view.mapValues { rs =>
      val qq = rs.map(r => math.floor(r._2 * (1L << 20)).toLong).sorted
      val n = qq.length
      // smallest value whose 1-based rank clears ceil(p*n/100)
      def at(pct: Int) = qq((n * pct + 99) / 100 - 1)
      Seq(n.toLong, qq.head, qq.last, at(25), at(50), at(75), at(95))
    }.toMap
    assert(got === want)
  }

  test("td22 sample weights equal an in-memory sqrt-temperature computation") {
    val got = TextPipeline.sampleWeights(spark, dir).collect()
      .map(r => r.getString(0) -> (1 to 5).map(r.getLong).toSeq).toMap
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1).length.toLong))
    val perLang = toks.groupBy(_._1).view.mapValues { rs =>
      (rs.length.toLong, rs.map(_._2).sum)
    }.toMap
    val wq = perLang.view.mapValues { case (_, tt) =>
      math.floor(math.sqrt(tt.toDouble) * (1L << 20)).toLong
    }.toMap
    val wTotal = wq.values.sum
    val want = perLang.map { case (lang, (n, tt)) =>
      lang -> Seq(n, tt, wq(lang), wq(lang) * 1000000L / wTotal,
        wq(lang) * TextPipeline.SampleBudget / wTotal)
    }
    assert(got === want)
    // shares are a partition of ~1e6 (floor slack < n_langs)
    val ppm = got.values.map(_(3)).sum
    assert(ppm <= 1000000L && ppm > 1000000L - got.size)
  }

  test("td23 ingest gate agrees with in-memory exact dupes and td07 pair semantics") {
    val rows = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def isNew(id: Long) = id % TextPipeline.IngestMod == TextPipeline.IngestNewRem
    val oldTexts = rows.collect { case (id, t, _) if !isNew(id) => t }.toSet
    val exact = rows.collect {
      case (id, t, _) if isNew(id) && oldTexts(t) => id
    }.toSet
    // td23's near criterion is td07's (band collision + est_sim >= .5),
    // restricted to new-vs-old pairs — derive it from the declared td07
    val near = TextPipeline.dedupMinHash(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .collect { case (x, y) if isNew(x) && !isNew(y) => x }.toSet
    val want = rows.filter(r => isNew(r._1)).groupBy(_._3).view.mapValues { rs =>
      val ids = rs.map(_._1)
      val nEx = ids.count(exact)
      val nNear = ids.count(id => near(id) && !exact(id))
      Seq(ids.length.toLong, nEx.toLong, nNear.toLong,
        (ids.length - nEx - nNear).toLong)
    }.toMap
    val got = TextPipeline.ingestDedup(spark, dir).collect()
      .map(r => r.getString(0) -> (1 to 4).map(r.getLong).toSeq).toMap
    assert(got === want)
  }

  test("td24 drift equals an in-memory full-vocabulary L1 computation") {
    val rows = spark.read.parquet(s"$dir/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1).toSeq))
    val st = rows.flatMap { case (src, ts) => ts.map((src, _)) }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val ts = st.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val ct = st.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val g = ct.values.sum
    val expPpm = ct.view.mapValues(c => c * 1000000L / g).toMap
    val sExp = expPpm.values.sum
    // the in-memory reference sums |obs - exp| over the WHOLE corpus
    // vocabulary directly — the operator's folded identity must
    // reproduce it exactly
    val got = TextPipeline.sourceDrift(spark, dir).collect()
    got.foreach { r =>
      val src = r.getString(0)
      val devs = ct.keys.map { t =>
        val obs = st.getOrElse((src, t), 0L) * 1000000L / ts(src)
        t -> math.abs(obs - expPpm(t))
      }.toMap
      val present = st.keys.filter(_._1 == src).map(_._2).toSet
      val top = present.map(t => (t, devs(t))).minBy { case (t, d) => (-d, t) }
      assert(r.getLong(1) === ts(src))
      assert(r.getLong(2) === present.size.toLong)
      assert(r.getLong(3) === devs.values.sum)
      assert(r.getString(4) === top._1)
      assert(r.getLong(5) === top._2)
    }
    assert(got.map(_.getString(0)).toSeq === ts.keys.toSeq.sorted)
  }

  test("v09 PQ assignment equals an in-memory product-quantizer") {
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * (1L << 20)).toLong))
      .sortBy(_._1)
    val m = 8; val dsub = 8; val k = 16
    def sv(qv: Seq[Long], j: Int) = qv.slice(j * dsub, j * dsub + dsub)
    val codebook = (0 until m).map { j =>
      j -> vecs.take(k).map { case (id, qv) => id -> sv(qv, j) }
    }.toMap
    val cells = scala.collection.mutable.Map
      .empty[(Long, Long), (Long, Long)].withDefaultValue((0L, 0L))
    for ((_, qv) <- vecs; j <- 0 until m) {
      val s0 = sv(qv, j)
      val (cw, qd) = codebook(j).map { case (cid, cv) =>
        (cid, s0.zip(cv).map { case (x, y) => (x - y) * (x - y) }.sum)
      }.minBy { case (cid, d) => (d, cid) } match {
        case (cid, d) => (cid, d)
      }
      val (n, e) = cells((j.toLong, cw))
      cells((j.toLong, cw)) = (n + 1, e + qd)
    }
    val got = VectorPipeline.pqAssign(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(got === cells.toMap)
    // every vector contributes exactly m assignments
    assert(got.values.map(_._1).sum === vecs.length.toLong * m)
  }

  test("td19 refuses loudly when exactness is uncertifiable at the ceiling") {
    import spark.implicits._
    // same uniform corpus, but the escalation ceiling stops below the
    // vocabulary: no certificate is reachable — refuse, never guess
    val df = (1 to 300).map(t => f"u$t%03d").toDF("text")
    val e = intercept[IllegalArgumentException] {
      TextPipeline.heavyHittersOf(spark, df, k = 5, capacity = 16,
        maxCapacity = 128)
    }
    assert(e.getMessage.contains("not certifiable"))
  }

  test("v14 prototype prune matches an in-memory assignment + rank + quota") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-v14").toString
    // 8 seeds (vec_id < NumSeeds) spread on a line; 13 corpus vectors
    // near seed 0 at strictly increasing distances, one on seed 5.
    val vecs: Seq[(Long, Array[Float])] =
      (0L to 7L).map(i => i -> Array(i * 10.0f, 0.0f)) ++
        (8L to 20L).map(j => j -> Array((j - 8) * 0.1f, 0.5f)) :+
        (21L -> Array(50.0f, 0.001f))
    vecs.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    // in-memory reference with the SAME 2^20 quantization
    def q(x: Float): Long = math.floor(x.toDouble * (1L << 20)).toLong
    val quant = vecs.map { case (id, v) => id -> v.map(q) }
    val seeds = quant.filter(_._1 < 8L)
    val assigned = quant.map { case (id, v) =>
      val (qd, cl) = seeds.map { case (sid, sv) =>
        (sv.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum, sid)
      }.min
      (id, cl, qd)
    }
    val expected = assigned.groupBy(_._2).toSeq.flatMap { case (cl, rows) =>
      val ranked = rows.sortBy(r => (r._3, r._1)).zipWithIndex
      val nPrune = rows.length.toLong * 20L / 100L
      ranked.map { case ((id, _, qd), i) =>
        (id, cl, qd, i + 1L, if (i + 1L <= nPrune) 1L else 0L)
      }
    }.sortBy(r => (r._2, r._4))
    val got = VectorPipeline.prototypePrune(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected)
    // the quota must actually bite: cluster 0 holds seed 0 + 13 near
    // vectors = 14 rows → 2 pruned, closest-first (the seed itself)
    val cl0 = got.filter(_._2 === 0L)
    assert(cl0.length === 14 && cl0.count(_._5 === 1L) === 2)
    assert(cl0.filter(_._5 === 1L).map(_._1).contains(0L))
  }

  test("v15 label dispersion: zero for identical vectors, exact for a planted pair") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-v15").toString
    // label 1: three identical vectors → inertia exactly 0
    // label 2: (0,0) and (1,1) → q = (0,0), (1024,1024); centroid
    //          floor(1024/2) = 512 → each row contributes 2·512² and
    //          the pair sums to 4·512² = 1048576 (VdQ = 2^10)
    val rows = Seq(
      (1L, Array(0.5f, 0.5f), 1),
      (2L, Array(0.5f, 0.5f), 1),
      (3L, Array(0.5f, 0.5f), 1),
      (4L, Array(0.0f, 0.0f), 2),
      (5L, Array(1.0f, 1.0f), 2))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val got = VectorPipeline.labelDispersion(spark, d).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map(
      1 -> ((3L, 0L, 0L)),
      2 -> ((2L, 1048576L, 524288L))))
  }

  test("v16 modality lift: 10^4 under independence, 2·10^4 on a perfect pairing") {
    import spark.implicits._
    def plant(pairs: Seq[(String, Int)]): String = {
      val d = java.nio.file.Files.createTempDirectory("graft-v16").toString
      pairs.zipWithIndex.map { case ((lang, _), i) =>
        (i.toLong, s"text $i", lang, "web", 6L)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$d/documents.parquet")
      pairs.zipWithIndex.map { case ((_, label), i) =>
        (i.toLong, Array(0.1f, 0.2f), label)
      }.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
      d
    }
    // independent 2×2: every cell's lift is exactly 10^4
    val ind = plant(Seq(("aa", 0), ("aa", 1), ("bb", 0), ("bb", 1)))
    val gotInd = VectorPipeline.modalityLift(spark, ind).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(3)).toMap
    assert(gotInd.values.toSet === Set(10000L))
    // perfect pairing: lang determines label → lift = 1/P(label) = 2·10^4
    val per = plant(Seq(("aa", 0), ("aa", 0), ("bb", 1), ("bb", 1)))
    val gotPer = VectorPipeline.modalityLift(spark, per).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(3)).toMap
    assert(gotPer === Map(("aa", 0) -> 20000L, ("bb", 1) -> 20000L))
  }

  test("v07 assignment excludes zero-norm seeds; zero-norm corpus rows tiebreak to the min seed") {
    import spark.implicits._
    // r19 advice item: cosine against a ZERO-NORM vector divides 0 by
    // 0 — an ANSI-mode abort (and, with ANSI off, a NaN whose total-
    // order maximality made the retired desc-window form and the
    // array_min form disagree about zero-norm seeds). r20 resolves
    // the edge by construction: zero-norm seeds carry no direction
    // and are excluded from the quantizer; a zero-norm CORPUS row is
    // direction-less too and scores 0 against every surviving seed,
    // so all candidates tie and the min-seed_id tiebreak decides —
    // no division ever sees a zero divisor.
    val d = java.nio.file.Files.createTempDirectory("graft-v07z").toString
    // seed 2 is the zero vector; the others are signed axis vectors
    // (axis-aligned corpus rows make every argmax decided by exact
    // float dot products, no precision ambiguity)
    val axes = Seq(
      0L -> Array(1f, 0f, 0f, 0f), 1L -> Array(0f, 1f, 0f, 0f),
      2L -> Array(0f, 0f, 0f, 0f), 3L -> Array(0f, 0f, 0f, 1f),
      4L -> Array(-1f, 0f, 0f, 0f), 5L -> Array(0f, -1f, 0f, 0f),
      6L -> Array(0f, 0f, -1f, 0f), 7L -> Array(0f, 0f, 0f, -1f))
    val corpus = Seq(
      8L -> Array(2f, 0f, 0f, 0f), // cos 1 with seed 0
      9L -> Array(0f, -3f, 0f, 0f), // cos 1 with seed 5
      10L -> Array(0f, 0f, 5f, 0f), // all-zero cos (seed 2 gone) → min seed 0
      11L -> Array(0f, 0f, 0f, 0f)) // zero-norm corpus row → NaN ties → seed 0
    (axes ++ corpus).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    (0L to 11L).map(i => (i, s"text $i", "xx"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = VectorPipeline.diverseSample(spark, d).collect()
      .map(r => r.getLong(2) -> r.getLong(0)).toMap // doc_id -> cluster
    val expected = Map(
      0L -> 0L, 1L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 5L, 6L -> 6L,
      7L -> 7L, // unit seeds assign to themselves (cos 1 with self)
      2L -> 0L, // the zero seed, as a corpus row, NaN-ties → min surviving seed
      8L -> 0L, 9L -> 5L, 10L -> 0L, 11L -> 0L)
    assert(got === expected)
    assert(!got.values.toSet.contains(2L),
      "no row may be assigned to the zero-norm seed")
  }

  test("td28 containment flags a subset-dup that jaccard misses") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-td28").toString
    // doc 1 (4 tokens → 2 shingles) is wholly contained in doc 2
    // (10 tokens → 8 shingles): containment A→B = 2/2 = 100%,
    // B→A = 2/8 = 25%, jaccard = 2/8 = 0.25 — below td06's 0.8 bar
    Seq(
      (1L, "w1 w2 w3 w4", "en", "web"),
      (2L, "w1 w2 w3 w4 x1 x2 x3 x4 x5 x6", "en", "web"),
      (3L, "z1 z2 z3 z4 z5", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = TextPipeline.containmentDedup(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.toSeq === Seq((1L, 2L, 2L, 2L, 8L, 1000000L, 250000L)))
    // the same pair must NOT surface as a jaccard near-dup
    val jac = TextPipeline.dedupJaccard(spark, d).collect()
    assert(jac.isEmpty, "jaccard at 0.25 must stay below the 0.8 bar")
  }

  test("v17 exact-degree yardstick equals an in-memory degree recount of the candidate graph") {
    val norm = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "embedding", "CAST(1.0 AS DOUBLE) AS nrm")
    // nrm is carried by the banding helper but unused for candidate
    // generation; any placeholder works
    val cand = VectorPipeline.ndCandidates(norm)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val degrees = cand.flatMap(p => Seq(p._1, p._2))
      .groupBy(identity).map { case (_, v) => v.length.toLong }
    val wantHist = degrees.groupBy(identity)
      .map { case (d, v) => d -> v.size.toLong }
    val nTotal = norm.count()
    val got = VectorPipeline.indexHealthExact(norm).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(0L) === nTotal - degrees.size.toLong)
    wantHist.foreach { case (deg, n) => assert(got(deg) === n, s"degree $deg") }
    // partition of the corpus: every vector lands in exactly one bucket
    assert(got.values.sum === nTotal)
  }

  test("v17 occupancy bound: matches an in-memory recount and bounds the exact degrees") {
    val norm = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "embedding", "CAST(1.0 AS DOUBLE) AS nrm")
    val nTotal = norm.count()
    val got = VectorPipeline.indexHealthOn(norm).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // still a partition of the corpus
    assert(got.values.sum === nTotal)
    // the declared occupancy bound must dominate the exact-degree
    // distribution: sum of degree_ub ≥ sum of exact degree (each pair
    // counted once per shared band vs once total), and the isolated
    // mass can only shrink (degree_ub = 0 ⟹ exact degree = 0)
    val exact = VectorPipeline.indexHealthExact(norm).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def mass(h: Map[Long, Long]) = h.map { case (d, n) => d * n }.sum
    assert(mass(got) >= mass(exact))
    assert(got.getOrElse(0L, 0L) <= exact.getOrElse(0L, 0L))
    // independent in-memory recount of the declared semantics over
    // the SAME band keys (the keys themselves are validated through
    // v03's oracle): degree_ub(v) = Σ_band (occupancy(bucket) − 1)
    val keys = VectorPipeline.ndSignatures(norm).collect()
      .map(r => (0 until 8).map(j => (j, r.getInt(3 + j))))
    val occ = keys.flatten.groupBy(identity)
      .map { case (k, v) => k -> v.length.toLong }
    val wantHist = keys.map(_.map(occ(_) - 1L).sum)
      .groupBy(identity).map { case (d, v) => d -> v.length.toLong }
    assert(got === wantHist)
  }

  test("td27 phrase detect: planted collocation scores exactly, δ filters noise") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-td27").toString
    // "new york" co-occurs 6 times; every other adjacent pair occurs
    // once (≤ δ = 5, filtered). N = 24 tokens, c_new = c_york = 6:
    // score = (6 − 5)·24·10⁴ / 36 = 6666 (floor)
    (1L to 6L).map(i => (i, s"f${i}a new york f${i}b", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = TextPipeline.phraseDetect(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq === Seq(("new york", 6L, 6L, 6L, 6666L)))
  }

  test("td29 shard assignment equals an in-memory md5 recount and " +
      "partitions the corpus") {
    val rows = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "source", "text").collect()
      .map { r =>
        val id = r.getAs[Long]("doc_id")
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(s"shard:$id".getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString
        (java.lang.Long.parseLong(hex, 16) % 16L,
          r.getAs[String]("source"),
          // limit -1: Spark SQL split keeps trailing empties
          r.getAs[String]("text").split(" ", -1).length.toLong, id)
      }
    val want = rows.groupBy(_._1).map { case (sh, vs) =>
      sh -> ((vs.length.toLong, vs.map(_._3).sum,
        vs.map(_._2).distinct.length.toLong,
        vs.map(_._4).min, vs.map(_._4).max))
    }
    val total = rows.length.toLong
    val got = TextPipeline.shardAssign(spark, dir).collect()
    assert(got.map(_.getAs[Long]("n_docs")).sum === total,
      "shards must partition the corpus")
    assert(got.length === want.size)
    got.foreach { r =>
      val (nd, nt, ns, fd, ld) = want(r.getAs[Long]("shard"))
      assert(r.getAs[Long]("n_docs") === nd)
      assert(r.getAs[Long]("n_tokens") === nt)
      assert(r.getAs[Long]("n_sources") === ns)
      assert(r.getAs[Long]("first_doc") === fd)
      assert(r.getAs[Long]("last_doc") === ld)
      assert(r.getAs[Long]("share_ppm") === nd * 1000000L / total)
    }
  }

  test("td30 vocab growth equals an in-memory first-seen recount") {
    // sf0.01, not the suite's sf0.001: 500 docs = 2 ingestion buckets,
    // so the deceleration assertion below is non-vacuous
    val growthDir = "/root/testdata/sf0.01"
    val docsRows = spark.read.parquet(s"$growthDir/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val byDoc = docsRows
      .map { case (id, t) => (id / 250L, t.split(" ", -1).length.toLong) }
      .groupBy(_._1)
      .map { case (b, v) => b -> ((v.length.toLong, v.map(_._2).sum)) }
    val firstSeen = scala.collection.mutable.Map[String, Long]()
    docsRows.sortBy(_._1).foreach { case (id, t) =>
      val tok = t.split(" ", -1)
      if (tok.length >= 3) tok.sliding(3).foreach { g =>
        val sh = g.mkString(" ")
        if (!firstSeen.contains(sh)) firstSeen(sh) = id
      }
    }
    val wantNew = firstSeen.values.groupBy(_ / 250L)
      .map { case (b, v) => b -> v.size.toLong }
    val got = TextPipeline.vocabGrowth(spark, growthDir).collect()
    assert(got.length > 1, "fixture must span multiple buckets")
    assert(got.map(_.getAs[Long]("n_docs")).sum === docsRows.length.toLong)
    var cumT = 0L
    var cumS = 0L
    got.foreach { r =>
      val b = r.getAs[Long]("bucket")
      val (nd, nt) = byDoc(b)
      cumT += nt
      cumS += wantNew.getOrElse(b, 0L)
      assert(r.getAs[Long]("n_docs") === nd)
      assert(r.getAs[Long]("n_tokens") === nt)
      assert(r.getAs[Long]("n_new_shingles") === wantNew.getOrElse(b, 0L))
      assert(r.getAs[Long]("cum_tokens") === cumT)
      assert(r.getAs[Long]("cum_shingles") === cumS)
    }
    // growth must decelerate on a finite-vocabulary corpus: the last
    // bucket's new-type count stays below the first's
    if (got.length > 1)
      assert(got.last.getAs[Long]("n_new_shingles") <
        got.head.getAs[Long]("n_new_shingles"))
  }

  test("td30 prefix sum is exact across chunk boundaries") {
    // sf corpora put every bucket in chunk 0 (doc_id < 250*4096), so
    // the broadcast-offset path never fires there; plant sparse
    // doc_ids spanning three 4096-bucket chunks and recount serially
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_td30_chunks").toString
    val chunkSpan = 250L * 4096L // doc_ids per chunk
    val rows = for {
      c <- 0L to 2L
      i <- 0L to 3L
    } yield {
      val id = c * chunkSpan + i * 250L // one doc per bucket
      // chunk-local vocab plus one shared trigram, so later chunks
      // still mint new types AND re-see old ones
      val text = s"alpha$c beta$i gamma$c delta$i the quick fox"
      (id, text, "en", s"src$c", text.length.toLong)
    }
    spark.createDataFrame(rows)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(8)
      .write.parquet(s"$tmp/documents.parquet")
    val got = TextPipeline.vocabGrowth(spark, tmp)
      .collect().sortBy(_.getAs[Long]("bucket"))
    assert(got.length === 12)
    // serial recount
    val firstSeen = scala.collection.mutable.Map[String, Long]()
    rows.sortBy(_._1).foreach { case (id, text, _, _, _) =>
      text.split(" ").sliding(3)
        .foreach(g => firstSeen.getOrElseUpdate(g.mkString(" "), id))
    }
    val newBy = firstSeen.values.groupBy(_ / 250L)
      .map { case (b, v) => b -> v.size.toLong }
    var cumT = 0L; var cumS = 0L
    got.foreach { r =>
      val b = r.getAs[Long]("bucket")
      cumT += r.getAs[Long]("n_tokens")
      cumS += newBy.getOrElse(b, 0L)
      assert(r.getAs[Long]("n_new_shingles") === newBy.getOrElse(b, 0L))
      assert(r.getAs[Long]("cum_tokens") === cumT)
      assert(r.getAs[Long]("cum_shingles") === cumS,
        s"cumulative shingles wrong at bucket $b (chunk ${b / 4096})")
    }
    // the planted ids must actually straddle chunks or the test is
    // vacuous
    assert(got.map(_.getAs[Long]("bucket") / 4096L).distinct.length === 3)
  }

  test("v18 knn label purity equals an in-memory 5-NN majority vote") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet").collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray,
        r.getAs[Int]("label")))
    // the exact ordered fold of vec_dot / the oracle's list_reduce
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val nrm = e.map { case (id, v, _) => id -> math.sqrt(dot(v, v)) }.toMap
    val want = e.filter(_._1 < 10L).sortBy(_._1).map { case (q, qv, ql) =>
      val votes = e.filter(_._1 != q)
        .map { case (n, nv, nl) => (dot(qv, nv) / (nrm(q) * nrm(n)), n, nl) }
        .sortBy { case (c, n, _) => (-c, n) }
        .take(5)
        .groupBy(_._3).map { case (l, v) => (l, v.length.toLong) }
      val majority = votes.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
      val agree = votes.getOrElse(ql, 0L)
      (q, ql, majority, agree, agree * 1000000L / 5L,
        if (majority == ql) 1L else 0L)
    }
    val got = VectorPipeline.knnLabelPurity(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq === want.toSeq)
  }

  test("v19 ivf-pq residual assignment equals an in-memory reference; " +
      "the census quantifies the residual-vs-raw tradeoff") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet").collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray))
    val Q = 1L << 20
    val qv = e.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * Q).toLong)
    }.toMap
    val seeds = (0L until 8L).map(id => id -> qv(id))
    def qdist(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val resid = qv.map { case (id, v) =>
      val c = seeds.map { case (cid, sq) => (qdist(v, sq), cid, sq) }
        .minBy(t => (t._1, t._2))
      id -> v.zip(c._3).map { case (x, y) => x - y }
    }
    // codebook = residuals of the first 16 NON-SEED vectors (ids
    // 8..23, codeword = id - 8) — seed residuals are identically zero
    val books = (0 until 8).map { m =>
      m -> (0L until 16L)
        .map(cw => cw -> resid(cw + 8L).slice(m * 8, m * 8 + 8)).toMap
    }.toMap
    val cells = scala.collection.mutable.Map[(Long, Long), (Long, Long)]()
    resid.foreach { case (_, rv) =>
      for (m <- 0 until 8) {
        val sv = rv.slice(m * 8, m * 8 + 8)
        val (qd, cw) = books(m).toSeq
          .map { case (cw, cv) => (qdist(sv, cv), cw) }
          .minBy(identity)
        val k = (m.toLong, cw)
        val (n, s) = cells.getOrElse(k, (0L, 0L))
        cells(k) = (n + 1, s + qd)
      }
    }
    val got = VectorPipeline.ivfpqAssign(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got === cells.toMap)
    // every vector encodes in every subspace — the census partitions
    // the corpus x subspaces matrix exactly
    val nVecs = e.length.toLong
    assert(got.values.map(_._1).sum === nVecs * 8L)
    // documentation-by-test of the operator's honest caveat: on this
    // near-isotropic synthetic corpus (best-of-8 coarse cosine ~0.2)
    // residual variance ~2(1-rho) EXCEEDS raw variance, so the
    // residual census must come out WORSE than v09's raw census here
    // - the census pair is the instrument that decides the layout,
    // and on clusterable corpora the inequality flips
    val rawErr = VectorPipeline.pqAssign(spark, dir)
      .collect().map(_.getLong(3)).sum
    val residErr = got.values.map(_._2).sum
    assert(residErr > rawErr,
      s"on the isotropic testdata residual err $residErr should exceed raw $rawErr")
  }

  test("td31 pii scan counts planted emails/phones/ips/ssns per source") {
    import spark.implicits._
    val docs = Seq(
      // srcA: two emails in one doc + one phone in another
      (1L, "srcA", "contact alice.smith@example.com or bob+spam@mail.co today"),
      (2L, "srcA", "call 555-123-4567 now"),
      // srcB: one doc with an ip AND an ssn (counts once as a pii doc),
      // one clean doc
      (3L, "srcB", "server 192.168.1.254 owner ssn 123-45-6789"),
      (4L, "srcB", "perfectly clean text with no identifiers"),
      // srcC: all clean → zero everything
      (5L, "srcC", "nothing to see here"),
      (6L, "srcC", "still nothing"),
      // srcD: long modern gTLDs — a {2,6} TLD cap would miss both
      (7L, "srcD", "mail carol@startup.technology or dev@ngo.international"))
    val out = TextPipeline.piiScanDf(docs.toDF("doc_id", "source", "text"))
      .collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(out("srcA").getAs[Long]("email_spans") === 2L)
    assert(out("srcA").getAs[Long]("phone_spans") === 1L)
    assert(out("srcA").getAs[Long]("ipv4_spans") === 0L)
    assert(out("srcA").getAs[Long]("pii_docs") === 2L)
    assert(out("srcA").getAs[Long]("pii_doc_ppm") === 1000000L)
    assert(out("srcB").getAs[Long]("ipv4_spans") === 1L)
    assert(out("srcB").getAs[Long]("ssn_spans") === 1L)
    // the ssn 123-45-6789 must not double-count as a phone (3-2-4 ≠ 3-3-4)
    assert(out("srcB").getAs[Long]("phone_spans") === 0L)
    assert(out("srcB").getAs[Long]("pii_docs") === 1L)
    assert(out("srcB").getAs[Long]("pii_doc_ppm") === 500000L)
    assert(out("srcC").getAs[Long]("pii_docs") === 0L)
    assert(out("srcC").getAs[Long]("pii_doc_ppm") === 0L)
    assert(out("srcD").getAs[Long]("email_spans") === 2L)
    assert(out("srcD").getAs[Long]("pii_docs") === 1L)
  }

  test("td31 pii scan is all-zero on the synthetic corpus (no digits, no @)") {
    val rows = TextPipeline.piiScan(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("pii_docs") === 0L)
      assert(r.getAs[Long]("email_spans") === 0L)
    }
  }
}
