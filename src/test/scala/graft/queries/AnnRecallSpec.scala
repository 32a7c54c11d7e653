package graft.queries

import graft.SparkSpec

/** Approximation QUALITY of the ANN scale paths: recall of the LSH- and
  * IVF-bucketed candidate generation against the brute-force exact top-k.
  * Correctness of each path is already oracle-checked per query; this spec
  * asserts the thing the oracle can't — that the approximate paths return
  * mostly the same neighbors the exact scan would, so a user trading
  * all-pairs cost for bucketed candidate generation knows what they keep. */
class AnnRecallSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  private def resultSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  behavior of "ANN scale paths"

  it should "keep high recall of the exact top-k in the LSH path" in {
    // exact top-3 per query (brute force ranks top-5; take rnk <= 3)
    val exact = resultSet(
      LlmData.annTopK(spark, dir).filter(org.apache.spark.sql.functions.col("rnk") <= 3))
    val lsh = resultSet(LlmData.annLsh(spark, dir))
    val recall = (exact intersect lsh).size.toDouble / exact.size
    info(f"LSH recall@3 = $recall%.3f (${(exact intersect lsh).size}/${exact.size})")
    // 4 sign-projection planes = 16 buckets; same-bucket survivors must
    // still cover most exact neighbors on the synthetic corpus
    recall should be >= 0.5
  }

  it should "grade the LSH path with consistent retrieval-eval metrics" in {
    val r = LlmData.annNdcg(spark, dir).head()
    r.getAs[Long]("n_queries") shouldBe 8L
    val (rec, mrr, ndcg) = (r.getAs[Double]("recall_at_3"),
      r.getAs[Double]("mrr"), r.getAs[Double]("ndcg_at_3"))
    Seq(rec, mrr, ndcg).foreach { m =>
      m should (be >= 0.0 and be <= 1.0)
    }
    // the eval must agree with the recall floor asserted above
    rec should be >= 0.5
    // relevant hits exist, so position-discounted gain is strictly positive
    ndcg should be > 0.0
    mrr should be >= rec // first-hit rank ≥ average coverage on this corpus
  }

  it should "keep high recall of the exact top-k in the IVF path" in {
    val exact = resultSet(
      LlmData.annTopK(spark, dir).filter(org.apache.spark.sql.functions.col("rnk") <= 3))
    val ivf = resultSet(LlmData.annIvf(spark, dir).checkpointed())
    val recall = (exact intersect ivf).size.toDouble / exact.size
    info(f"IVF recall@3 (adaptive k/nprobe) = $recall%.3f " +
      f"(${(exact intersect ivf).size}/${exact.size})")
    recall should be >= 0.5
  }

  it should "hold the IVF recall floor at BOTH a small and the adaptive k" in {
    // the corpus-adaptive k (√N capped) changes cell granularity with
    // corpus size — the floor must hold across the k range, not at one
    // tuned constant. Small-k (k=8, nprobe=3: probe 3/8 of cells) and the
    // adaptive default (k=⌈√500⌉=23, nprobe=5: probe ~1/5 of cells) are
    // both exercised against the same exact top-k.
    val exact = resultSet(
      LlmData.annTopK(spark, dir).filter(org.apache.spark.sql.functions.col("rnk") <= 3))
    Seq((8, 3), (-1, -1)).foreach { case (k, np) =>
      val ivf = resultSet(LlmData.annIvf(spark, dir, k = k, nprobe = np).checkpointed())
      val recall = (exact intersect ivf).size.toDouble / exact.size
      info(f"IVF recall@3 (k=$k%d, nprobe=$np%d) = $recall%.3f")
      recall should be >= 0.5
    }
  }

  it should "keep high recall with the Lloyd-trained IVF quantizer" in {
    val exact = resultSet(
      LlmData.annTopK(spark, dir).filter(org.apache.spark.sql.functions.col("rnk") <= 3))
    val ivf = resultSet(LlmData.annIvfTrained(spark, dir).checkpointed())
    val recall = (exact intersect ivf).size.toDouble / exact.size
    info(f"trained-IVF recall@3 (adaptive k/nprobe) = $recall%.3f " +
      f"(${(exact intersect ivf).size}/${exact.size})")
    recall should be >= 0.5
  }

  it should "size the coarse codebook by the √N rule with hard caps" in {
    // the broadcast bound in rows: k grows as √N but is clamped so the
    // codebook stays a safe broadcast at ANY corpus size — 65536 cells ×
    // 64 dims × 8 bytes ≈ 34 MB at the 100 TB end.
    LlmData.adaptiveCoarseK(0L) shouldBe 8
    LlmData.adaptiveCoarseK(64L) shouldBe 8
    LlmData.adaptiveCoarseK(500L) shouldBe 23
    LlmData.adaptiveCoarseK(1000000L) shouldBe 1000
    LlmData.adaptiveCoarseK(10L * 1000 * 1000 * 1000) shouldBe 65536
    LlmData.adaptiveCoarseK(Long.MaxValue) shouldBe 65536
    // nprobe = ⌈√k⌉ floored at 3: the probed corpus FRACTION np/k falls
    // from 3/8 at the floor to 256/65536 ≈ 0.4% at the cap
    LlmData.adaptiveNprobe(8) shouldBe 3
    LlmData.adaptiveNprobe(23) shouldBe 5
    LlmData.adaptiveNprobe(65536) shouldBe 256
  }

  it should "keep usable recall through the full IVF-PQ pipeline" in {
    // IVF cells bound candidates, ADC shortlists them, exact cosine
    // re-ranks — recall loss comes from cell misses + shortlist misses.
    val exact = resultSet(
      LlmData.annTopK(spark, dir).filter(org.apache.spark.sql.functions.col("rnk") <= 3))
    val ivfpq = resultSet(LlmData.annIvfPq(spark, dir).checkpointed())
    val recall = (exact intersect ivfpq).size.toDouble / exact.size
    info(f"IVF-PQ recall@3 (adaptive k/nprobe, shortlist=50) = $recall%.3f " +
      f"(${(exact intersect ivfpq).size}/${exact.size})")
    recall should be >= 0.4
  }

  it should "recall exact L2 neighbors inside a 10% PQ-ADC shortlist" in {
    // ADC = how IVF-PQ scores at scale: per query, an m×k distance table to
    // the codebook, then distance to a db vector is the sum of table
    // lookups at its code. At k=8 codewords the quantized ranking is a
    // SHORTLIST generator, not a final ranking (production IVF-PQ re-ranks
    // the shortlist with exact distances) — so the asserted property is
    // shortlist recall: the exact top-3 must sit inside the ADC top-10%.
    // Table + ranking replayed here driver-side (the distributed part —
    // the encode pass — is the oracle-checked embed_pq).
    val m = 4; val sub = 16; val k = 8
    val vecs: Map[Long, Array[Double]] = graft.Tables.embeddings(spark, dir)
      .selectExpr("vec_id", "cast(embedding AS array<double>) AS v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val codes: Map[Long, Array[Long]] = LlmData.embedPq(spark, dir)
      .collect().map(r => r.getLong(0) ->
        Array(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val cb: Array[Array[Array[Double]]] = // [subspace][codeword] -> subvector
      Array.tabulate(m)(j => Array.tabulate(k)(c =>
        vecs(c.toLong).slice(j * sub, (j + 1) * sub)))
    def l2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + (x - y) * (x - y) }
    val qids = vecs.keys.filter(_ < k).toSeq.sorted
    val exact = qids.flatMap { q =>
      vecs.toSeq.filter(_._1 != q)
        .sortBy { case (id, v) => (l2(vecs(q), v), id) }
        .take(3).map { case (id, _) => (q, id) }
    }.toSet
    val shortlist = (vecs.size / 10).max(10)
    val adc = qids.flatMap { q =>
      val lut = Array.tabulate(m)(j => Array.tabulate(k)(c =>
        l2(vecs(q).slice(j * sub, (j + 1) * sub), cb(j)(c))))
      codes.toSeq.filter(_._1 != q)
        .sortBy { case (id, code) =>
          ((0 until m).map(j => lut(j)(code(j).toInt)).sum, id)
        }
        .take(shortlist).map { case (id, _) => (q, id) }
    }.toSet
    val recall = (exact intersect adc).size.toDouble / exact.size
    info(f"PQ-ADC shortlist recall@3 (m=4, k=8, C=$shortlist) = $recall%.3f " +
      f"(${(exact intersect adc).size}/${exact.size})")
    recall should be >= 0.7
  }

  it should "reduce mean quantization error with trained PQ codebooks" in {
    // Lloyd training exists to minimize within-cell squared error — the
    // trained codebooks must beat the raw first-k-subvector seeds on the
    // exact objective both queries report per row
    def meanErr(df: org.apache.spark.sql.DataFrame): Double = {
      val errs = df.select("err").collect().map(_.getDouble(0))
      errs.sum / errs.length
    }
    val raw = meanErr(LlmData.embedPq(spark, dir))
    val trained = meanErr(LlmData.embedPqTrained(spark, dir).checkpointed())
    info(f"mean quantization err: raw=$raw%.4f trained=$trained%.4f")
    trained should be < raw
  }

  it should "lose almost nothing to 8-bit scalar quantization" in {
    // SQ8 trades 8× scan bandwidth for a bounded per-dimension error of
    // (mx−mn)/510 ≈ 0.1% of the value range — the approximate ranking
    // should agree with the exact one almost everywhere, unlike the
    // bucketed paths whose loss comes from candidate misses.
    val exact = resultSet(
      LlmData.annTopK(spark, dir).filter(org.apache.spark.sql.functions.col("rnk") <= 3))
    val sq8 = resultSet(LlmData.annSq8(spark, dir).checkpointed())
    val recall = (exact intersect sq8).size.toDouble / exact.size
    info(f"SQ8 recall@3 (shortlist=12) = $recall%.3f " +
      f"(${(exact intersect sq8).size}/${exact.size})")
    recall should be >= 0.9
  }

  behavior of "persisted IVF index"

  it should "probe the published index to byte-identical inline results, surviving re-publish + vacuum" in {
    import org.apache.spark.sql.functions._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val inline = rows(LlmData.annIvfTrained(spark, dir).checkpointed())
    val root = LlmData.ivfIndexPublish(spark, dir)
    rows(LlmData.annIvfProbeFrom(spark, dir, root)) shouldBe inline
    // the registry caches the build: same root, no second publish
    LlmData.ivfIndexPublish(spark, dir) shouldBe root
    // version bump: re-publish both index tables (a rebuild) — the probe
    // reads the NEW committed version and old readers were never touched
    val cents = graft.plans.SnapshotStore.readLatest(spark, s"$root/centroids")
    val lists = graft.plans.SnapshotStore.readLatest(spark, s"$root/lists")
    graft.plans.SnapshotStore.publish(cents, s"$root/centroids", 2L)
    graft.plans.SnapshotStore.publish(lists, s"$root/lists", 2L)
    graft.plans.SnapshotStore.versions(s"$root/lists") shouldBe Seq(1L, 2L)
    rows(LlmData.annIvfProbeFrom(spark, dir, root)) shouldBe inline
    // reclaim superseded directories; the committed versions keep serving
    graft.plans.SnapshotStore.vacuum(s"$root/centroids", graceMs = 0L)
    graft.plans.SnapshotStore.vacuum(s"$root/lists", graceMs = 0L)
    rows(LlmData.annIvfProbeFrom(spark, dir, root)) shouldBe inline
    // the probe actually reads the published artifact: the inverted
    // lists come from the index's parquet, not a rebuilt assignment
    LlmData.annIvfProbeFrom(spark, dir, root)
      .inputFiles.exists(_.contains("graft-ivf-index")) shouldBe true
  }

  it should "append new vectors idempotently, visible to probes at the next committed version" in {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-append").toString
    val root = LlmData.ivfIndexPublish(spark, dir, Some(tmp))
    val n0 = graft.plans.SnapshotStore.readLatest(spark, s"$root/lists").count()
    // new arrivals: exact copies of the 8 probe queries under fresh ids —
    // after the append each probe's nearest neighbor is its own copy
    val newVecs = graft.Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 8)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    LlmData.ivfIndexAppend(spark, root, newVecs) shouldBe 2L
    graft.plans.SnapshotStore.readLatest(spark, s"$root/lists")
      .count() shouldBe (n0 + 8)
    // re-appending the same batch is a no-op on content (at-least-once
    // ingest): a new version commits, the row set does not change
    LlmData.ivfIndexAppend(spark, root, newVecs) shouldBe 3L
    graft.plans.SnapshotStore.readLatest(spark, s"$root/lists")
      .count() shouldBe (n0 + 8)
    val probe = LlmData.annIvfProbeFrom(spark, dir, root).cache()
    val top1 = probe.filter(col("rnk") === 1).collect()
    top1.length shouldBe 8
    top1.foreach { r =>
      r.getLong(2) shouldBe (r.getLong(0) + 1000000L)
      r.getDouble(3) shouldBe 1.0 +- 1e-9
    }
    // the PQ codes side advanced with the same rows
    graft.plans.SnapshotStore.readLatest(spark, s"$root/codes")
      .filter(col("c_id") >= 1000000L).count() shouldBe 8
  }

  it should "keep the recall floor through the PQ-coded (ADC) probe" in {
    // the ADC probe trades the full-vector candidate scan for a codes-only
    // scan + bounded re-rank; its loss vs the trained-IVF probe is
    // shortlist misses only, so the same floor must hold vs the exact
    // top-k the other paths are graded against
    val exact = resultSet(
      LlmData.annTopK(spark, dir).filter(org.apache.spark.sql.functions.col("rnk") <= 3))
    val pq = resultSet(LlmData.annIvfPqProbePersisted(spark, dir))
    val recall = (exact intersect pq).size.toDouble / exact.size
    info(f"persisted PQ-ADC probe recall@3 = $recall%.3f " +
      f"(${(exact intersect pq).size}/${exact.size})")
    recall should be >= 0.4
    // and vs the trained-IVF probe itself (same coarse cells): the only
    // divergence allowed is what the ADC shortlist drops
    val ivf = resultSet(LlmData.annIvfProbePersisted(spark, dir))
    val vsIvf = (ivf intersect pq).size.toDouble / ivf.size
    info(f"PQ-ADC probe agreement with trained-IVF probe = $vsIvf%.3f")
    vsIvf should be >= 0.5
  }

  it should "scan measurably fewer index bytes on the ADC path" in {
    // the point of PQ codes: the candidate stream the ADC probe reads
    // (`codes`: id, cell, m uint8-scale ints) must be materially smaller
    // on disk than the full-vector inverted lists the plain probe scans.
    // Measured on the committed artifact itself, not estimated.
    def bytes(table: String): Long = {
      val p = new org.apache.hadoop.fs.Path(table)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.getContentSummary(p).getLength
    }
    val root = LlmData.ivfIndexPublish(spark, dir)
    val listsB = bytes(s"$root/lists")
    val codesB = bytes(s"$root/codes")
    val cbB = bytes(s"$root/codebook")
    info(f"index bytes: lists=$listsB%d codes=$codesB%d codebook=$cbB%d " +
      f"(codes+codebook = ${100.0 * (codesB + cbB) / listsB}%.1f%% of lists)")
    codesB + cbB should be < listsB
  }

  behavior of "annMmrOf"

  it should "demote a near-duplicate that plain relevance top-k ranks second" in {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // query along e1; c10/c11 are the SAME direction (near-dups, both
    // highly relevant), c12 is less relevant but diverse. Plain cosine
    // order is 10, 11, 12 — MMR must interleave diversity: 10, 12, 11.
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),     // query
      (10L, Array(0.9f, 0.1f, 0f, 0f)),
      (11L, Array(1.8f, 0.2f, 0f, 0f)), // same direction as 10 (sim = 1)
      (12L, Array(0.7f, 0f, 0.714f, 0f)),
      (13L, Array(0f, 0f, 0f, 1f))      // irrelevant — cut by nCand=3
    ).toDF("vec_id", "embedding")
    val rows = LlmData
      .annMmrOf(emb, col("vec_id") === 0, k = 3, lam = 0.3, nCand = 3).checkpointed()
      .orderBy("rnk").collect()
    rows.map(_.getLong(2)).toSeq shouldBe Seq(10L, 12L, 11L)
    // sanity: plain relevance really does rank the near-dup above the
    // diverse candidate (otherwise this proves nothing)
    val rel = rows.map(r => r.getLong(2) -> r.getDouble(3)).toMap
    rel(11L) should be > rel(12L)
    // guards mirror hardNegativesOf: empty and over-bound query sets fail
    intercept[IllegalArgumentException](
      LlmData.annMmrOf(emb, col("vec_id") < 0))
    intercept[IllegalArgumentException](
      LlmData.annMmrOf(emb, col("vec_id") >= 0, maxQueries = 2))
  }
}
