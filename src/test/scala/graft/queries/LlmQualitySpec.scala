package graft.queries

import graft.SparkSpec

/** Invariants for the corpus-quality operators (decontamination overlap,
  * Gopher repetition signals, PII/ID scrub) — the driver's DuckDB oracle
  * checks exact values; these check the semantic contracts that hold at
  * any scale factor. */
class LlmQualitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  behavior of "decontamOverlap"

  it should "report only non-eval docs with partial-or-full overlap fractions" in {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val rows = LlmData.decontamOverlap(spark, dir).collect()
    rows should not be empty // the shared vocab guarantees some overlap
    rows.foreach { r =>
      r.getLong(0) % 97 should not be 0L // eval docs never appear
      val (nSh, nOv) = (r.getLong(1), r.getLong(2))
      nOv should be > 0L
      nOv should be <= nSh
      val frac = r.getDouble(3)
      frac should (be > 0.0 and be <= 1.0)
    }
  }

  behavior of "gopherRepetition"

  it should "produce consistent fractions and a threshold-derived keep flag" in {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val rows = LlmData.gopherRepetition(spark, dir).collect()
    rows should not be empty
    rows.foreach { r =>
      val nWords = r.getLong(1)
      nWords should be > 0L
      val (dup, topW, topB) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      dup should (be >= 0.0 and be < 1.0)
      // the most frequent word occurs at least once (5e-7 = round-6 slack)
      topW should be >= 1.0 / nWords - 5e-7
      topB should (be > 0.0 and be <= 1.0)
      r.getLong(5) shouldBe (if (topW <= 0.125 && topB <= 0.05) 1L else 0L)
    }
    // thresholds must actually split the corpus, not rubber-stamp it
    rows.map(_.getLong(5)).distinct.length shouldBe 2
  }

  behavior of "embedKmeans"

  it should "partition the corpus across the seeded clusters" in {
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val ids = graft.Tables.embeddings(spark, dir)
      .select("vec_id").collect().map(_.getLong(0))
    // the fixed-k seed set: 8 smallest under the multiplicative-hash order
    val seeds = ids.sortBy(id => ((id % 1000003L) * 2654435761L % 1000003L, id))
      .take(8).toSet
    val rows = LlmData.embedKmeans(spark, dir).rows()
    rows should not be empty
    rows.length should be <= 8 // cluster count is the CONSTANT k, never O(N)
    rows.map(_.getLong(1)).sum shouldBe ids.length.toLong // every vector assigned once
    rows.foreach { r =>
      seeds should contain (r.getLong(0)) // cluster ids are the seed ids
      r.getDouble(2) should be >= 0.0
    }
  }

  it should "sample the nearest members per cluster in rank order" in {
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val rows = LlmData.kmeansBalance(spark, dir, perCluster = 3).rows()
    rows should not be empty
    rows.groupBy(_.getLong(0)).foreach { case (_, members) =>
      members.map(_.getInt(1)).sorted shouldBe (1 to members.length).toArray
      members.length should be <= 3
      // ranks follow distance order within the cluster
      members.sortBy(_.getInt(1)).map(_.getDouble(3)).sliding(2).foreach {
        case Array(a, b) => a should be <= b + 1e-9
        case _           =>
      }
    }
  }

  behavior of "coarseSeeds"

  it should "pick the same fixed-k seed set under any partitioning" in {
    // the quantizer's scale contract: the seed selection is a pure
    // function of the ids (hash order + top-k), NEVER of physical layout —
    // a cluster re-shuffling the corpus must reproduce the same codebook
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    import org.apache.spark.sql.functions.col
    val e = graft.Tables.embeddings(spark, dir).select("vec_id")
    def ids(df: org.apache.spark.sql.DataFrame) =
      LlmData.coarseSeeds(df, 8).collect().map(_.getLong(0)).toSet
    val base = ids(e)
    base should have size 8
    ids(e.repartition(7)) shouldBe base
    ids(e.repartition(1)) shouldBe base
    ids(e.orderBy(col("vec_id").desc)) shouldBe base
  }

  behavior of "docPack"

  it should "pack every doc into contiguous non-overlapping token bins" in {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val total = graft.Tables.documents(spark, dir).count()
    val rows = LlmData.docPack(spark, dir).rows().sortBy(_.getLong(0))
    rows.map(_.getLong(1)).sum shouldBe total // every doc in exactly one bin
    // bins cover disjoint contiguous doc-id ranges in order
    rows.sliding(2).foreach {
      case Array(a, b) => a.getLong(4) should be < b.getLong(3)
      case _           =>
    }
  }

  behavior of "dupSegments"

  it should "profile duplicated spans consistently with window counts" in {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val toks = graft.Tables.documents(spark, dir)
      .selectExpr("doc_id", "size(split(text, ' ')) AS n").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = LlmData.dupSegments(spark, dir).rows()
    rows.length shouldBe toks.size // one profile row per document
    rows.foreach { r =>
      val (id, nSegs, nDup) = (r.getLong(0), r.getLong(1), r.getLong(2))
      nSegs shouldBe math.max(toks(id) - 7, 1).toLong // positional windows
      nDup should be <= nSegs
      r.getDouble(3) shouldBe nDup.toDouble / nSegs +- 5e-7
    }
    // the near-dup corpus slice must register as span-duplicated
    rows.count(_.getLong(2) > 0) should be > 0
  }

  behavior of "dsirWeights"

  it should "score target-looking docs above rest-of-corpus docs on average" in {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val lang = graft.Tables.documents(spark, dir)
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = LlmData.dsirWeights(spark, dir).rows()
    rows.length shouldBe lang.size
    val (en, rest) = rows.partition(r => lang(r.getLong(0)) == "en")
    en should not be empty
    rest should not be empty
    def mean(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.getDouble(1)).sum / rs.length
    // the LM ratio must actually separate the target slice
    mean(en) should be > mean(rest)
  }

  behavior of "semDedup"

  it should "prune only toward lower-id keepers within the cosine threshold" in {
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val rows = LlmData.semDedup(spark, dir).rows()
    rows should not be empty // the synthetic near-dup pairs cluster together
    rows.foreach { r =>
      r.getLong(1) should be < r.getLong(0) // keeper_id < pruned_id
      r.getDouble(2) should (be >= 0.3 and be <= 1.0)
    }
    // pruned set and keeper set are disjoint only per-pair, but a pruned
    // vector must never be its own keeper
    rows.map(_.getLong(0)).toSet should not contain rows.map(_.getLong(1)).min
  }

  it should "bound every pair-join group near the cluster-size cap" in {
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val cap = 40
    val groups = LlmData.semDedupGroups(spark, dir, maxCluster = cap).rows()
    val total = graft.Tables.embeddings(spark, dir).count()
    groups.map(_.getLong(2)).sum shouldBe total // every vector in one group
    // the quadratic term is bounded: no group far above the cap (the modulo
    // split is near-uniform, not exact, hence the 2× slack)
    groups.foreach(_.getLong(2) should be <= cap * 2L)
    // 500 vectors / 8 clusters ⇒ some cluster exceeds the cap, so the
    // secondary split must actually fire
    groups.length should be > groups.map(_.getLong(0)).distinct.length
  }

  behavior of "corpusShuffleOf"

  it should "assign dense positions and balanced shards over a filtered frame" in {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    import org.apache.spark.sql.functions.col
    // a cleaned (filtered) corpus — the assignment must be computed over
    // the survivors, not inherited from the full corpus
    val sub = graft.Tables.documents(spark, dir).filter(col("doc_id") % 3 === 0)
    val out = LlmData.corpusShuffleOf(sub, "doc_id", shards = 4).checkpointed().collect()
    out.length.toLong shouldBe sub.count()
    // dense 1..n positions, no gaps
    out.map(_.getLong(1)).sorted shouldBe (1L to out.length).toArray
    // round-robin shards differ by at most one in size
    val sizes = out.groupBy(_.getLong(2)).values.map(_.size)
    sizes.max - sizes.min should be <= 1
    // reproducible: same frame, same assignment
    val again = LlmData.corpusShuffleOf(sub, "doc_id", shards = 4).checkpointed().collect()
    again.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet shouldBe
      out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  behavior of "sourceTemperatureMix"

  it should "flatten the source distribution toward rare sources" in {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val rows = LlmData.sourceTemperatureMix(spark, dir).collect()
    rows should not be empty
    // α<1: keep probability is monotone NON-INCREASING in source size —
    // rare sources are upweighted relative to proportional sampling
    val bySize = rows.sortBy(_.getLong(2)) // n_src ascending
    bySize.sliding(2).foreach {
      case Array(a, b) => a.getDouble(3) should be >= b.getDouble(3) - 1e-9
      case _           =>
    }
    rows.foreach { r =>
      r.getDouble(3) should (be > 0.0 and be <= 1.0)
      r.getLong(1) should be <= r.getLong(2) // kept ≤ source size
    }
    // the realized sample lands in the budget's neighborhood (Bernoulli)
    val kept = rows.map(_.getLong(1)).sum
    kept should (be > 100L and be < 400L) // budget = 200
  }

  behavior of "piiScrub"

  it should "remove every digit run and account for all rows" in {
    assume(new java.io.File(s"$dir/customer.parquet").exists())
    val rows = TextOpsPack.piiScrub(spark, dir).collect()
    rows.map(_.getString(0)).sorted shouldBe Array("customer", "events")
    rows.foreach { r =>
      val (nRows, nRed) = (r.getLong(1), r.getLong(2))
      nRed should be <= nRows
      nRed should be > 0L // both sources carry digit runs
      r.getString(4) should not include regex("[0-9]")
    }
  }

  behavior of "docEntropy"

  it should "compute the closed-form entropy on degenerate and uniform docs" in {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a a a a a a"),            // degenerate: H = 0
      (2L, "a b c d e f g h"),            // uniform over 8: H = 3 bits
      (3L, "a a b b c c d d e e f f g g h h"), // uniform over 8 again
      (4L, "a a a b")                     // H = −(3/4)lg(3/4) − (1/4)lg(1/4)
    ).toDF("doc_id", "text")
    val out = LlmData.docEntropyOf(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    out(1L).getDouble(3) shouldBe 0.0
    out(2L).getDouble(3) shouldBe 3.0 +- 1e-6
    out(3L).getDouble(3) shouldBe 3.0 +- 1e-6
    val h4 = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25)) / math.log(2.0)
    out(4L).getDouble(3) shouldBe h4 +- 1e-6
    out(3L).getLong(1) shouldBe 16L  // n_toks
    out(3L).getLong(2) shouldBe 8L   // n_distinct
  }

  it should "flag repetition the length-based quality signals miss" in {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val rows = LlmData.docEntropy(spark, dir).collect()
    rows should not be empty
    rows.foreach { r =>
      val bits = r.getDouble(3)
      bits should be >= 0.0
      // H ≤ log2(distinct): equality only for a uniform distribution
      bits should be <= math.log(r.getLong(2).toDouble) / math.log(2.0) + 1e-6
    }
  }

  behavior of "sourceOverlap"

  it should "account for every verified near-dup pair in the source matrix" in {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val rows = LlmData.sourceOverlap(spark, dir).rows()
    rows should not be empty // the planted near-dups cross sources
    // independent driver-side recount from the verified pair graph
    val srcs = graft.Tables.documents(spark, dir)
      .select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = LlmData.dedupMinhash(spark, dir).checkpointed()
      .select("da", "db").collect()
      .map { r =>
        val (a, b) = (srcs(r.getLong(0)), srcs(r.getLong(1)))
        (if (a <= b) a else b, if (a <= b) b else a)
      }
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap shouldBe expected
    // pair mass is conserved: every verified pair lands in exactly one cell
    rows.map(_.getLong(2)).sum shouldBe expected.values.sum
    rows.foreach(r => assert(r.getString(0) <= r.getString(1)))
  }

  behavior of "minhashEstErr"

  it should "keep the 12-permutation estimate near the exact Jaccard on verified pairs" in {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val rows = LlmData.minhashEstErr(spark, dir).rows()
    rows should not be empty // the synthetic corpus plants near-dups
    rows.foreach { r =>
      val (jac, est, err) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      jac should be >= 0.7 // only verified pairs are calibrated
      est should (be >= 0.0 and be <= 1.0)
      err shouldBe math.abs(jac - est) +- 1e-5
      // 12 permutations ⇒ σ = √(j(1−j)/12) ≤ 0.145; 3σ guards the tail
      err should be <= 0.45
    }
    val mean = rows.map(_.getDouble(4)).sum / rows.length
    info(f"mean |err| over ${rows.length} verified pairs = $mean%.4f")
    mean should be <= 0.2
  }

  behavior of "dedupMinhashIncr"

  it should "equal the cross-version slice of the full pair pipeline" in {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    // probing the new batch against the old index must find EXACTLY the
    // full self-join's pairs that straddle the version split — no extra
    // collisions, none lost to the one-sided banding
    val full = LlmData.dedupMinhash(spark, dir).rows()
      .filter(r => r.getLong(0) < 400 && r.getLong(1) >= 400)
      .map(r => (r.getLong(1), r.getLong(0), r.getDouble(2))).sorted
    val incr = LlmData.dedupMinhashIncr(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    incr should not be empty // the planted near-dups straddle the split
    incr shouldBe full
  }

  behavior of "simhashNeardup"

  it should "find exactly the brute-force Hamming-radius pairs (pigeonhole recall)" in {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val sigs = LlmData.simhashSig(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    // ≤r differing bits over r+1 bands ⇒ one band matches exactly, so the
    // banded join may not miss a single pair — equality, not recall. Sweep
    // radii: 3 (the classic 4×15-bit split), 5 (6 uneven 10-bit bands),
    // and 0 (degenerate single-band exact-signature join).
    for (radius <- Seq(0, 3, 5)) {
      val expected = (for {
        (da, ha) <- sigs; (db, hb) <- sigs if da < db
        h = java.lang.Long.bitCount(ha ^ hb) if h <= radius
      } yield (da, db, h)).sorted
      val banded = LlmData.simhashNeardup(spark, dir, radius).rows()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
      withClue(s"radius $radius: ") { banded shouldBe expected }
    }
  }

  behavior of "rowLocalBands"

  it should "produce bit-identical band signatures to the aggregated path" in {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val docs = graft.Tables.documents(spark, dir)
    val aggregated = LlmData
      .minhashBandsFrom(LlmData.minhashSigsFrom(
        LlmData.shinglesOf(docs, "doc_id", "text")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted
    val rowLocal = LlmData.rowLocalBands(docs, "doc_id", "text")
      .select("doc_id", "band", "sig")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted
    rowLocal shouldBe aggregated
  }

  behavior of "vocabZipf"

  it should "fit a negative-slope rank-frequency line with a sane R²" in {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val r = LlmData.vocabZipf(spark, dir).checkpointed().collect().head
    val (nVocab, nTokens) = (r.getLong(0), r.getLong(1))
    nVocab should be > 0L
    nTokens should be >= nVocab // every distinct word occurs ≥ once
    val (slope, r2) = (r.getDouble(2), r.getDouble(3))
    slope should be < 0.0 // frequency falls with rank, by construction
    r2 should (be > 0.0 and be <= 1.0)
    info(f"Zipf fit: slope=$slope%.4f R²=$r2%.4f over $nVocab words")
  }

  behavior of "neardupSweep"

  it should "produce a monotone non-increasing threshold ladder" in {
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val rows = LlmData.neardupSweep(spark, dir).collect()
    rows.length shouldBe 6
    // counts at a higher threshold can never exceed a lower one
    rows.sortBy(_.getDouble(0)).map(_.getLong(1)).sliding(2).foreach {
      case Array(lo, hi) => lo should be >= hi
      case _             =>
    }
    // the lowest rung equals the neardup_cosine pair count (same 0.35 gate)
    rows.minBy(_.getDouble(0)).getLong(1) shouldBe
      LlmData.neardupCosine(spark, dir).count()
  }

  behavior of "packStats"

  it should "conserve token mass and bound the fill fractions" in {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val r = LlmData.packStats(spark, dir).rows().head
    val (nBins, nTokens) = (r.getLong(0), r.getLong(1))
    nBins should be > 0L
    // mass conservation: bins hold exactly the corpus token count
    nTokens shouldBe graft.Tables.documents(spark, dir)
      .selectExpr("size(split(text, ' ')) AS n")
      .agg(org.apache.spark.sql.functions.sum("n")).collect().head.getLong(0)
    val (avgF, minF, maxF) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
    minF should be <= avgF
    avgF should be <= maxF
    r.getLong(5) should be <= nBins // n_full90
  }

  behavior of "trigramPplOf"

  it should "rank a fluent doc below its token-shuffle where unigram ppl cannot separate them" in {
    import spark.implicits._
    // a corpus of repeated fluent patterns, plus one fluent probe doc and
    // one probe with the SAME token multiset in scrambled order. Unigram
    // perplexity depends only on the multiset — identical by construction
    // — while the KN trigram model must prefer the fluent sequence.
    val phrase = "the cat sat on the mat and the dog ran to the house"
    val corpus = (0 until 20).map(i => (i.toLong, phrase))
    val fluent = (100L, "the cat ran to the house and the dog sat on the mat")
    val shuffled = (101L, "house the to cat the ran and mat the dog on sat the")
    val docs = (corpus :+ fluent :+ shuffled).toDF("doc_id", "text")
    val tri = LlmData.trigramPplOf(docs, "doc_id", "text").checkpointed().collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val uni = LlmData.unigramPplHeld(docs, "doc_id", "text").rows()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    uni(100L) shouldBe uni(101L) // unigram ppl is blind to word order
    tri(100L) should be < tri(101L) // the KN trigram model is not
    // and the in-distribution corpus docs score best of all
    tri(0L) should be < tri(100L)
  }

  behavior of "fourgramPplOf"

  it should "separate a trigram-fluent doc with a novel 4-gram that trigram_ppl scores identically" in {
    import spark.implicits._
    // two templates sharing the trigram junction "x y": "a x y b" and
    // "c x y d", 20 copies each. The cross probe "a x y d" splices them:
    // every trigram (axy, xyd) is corpus-frequent with EXACTLY the same
    // counts as the in-template probe's (axy, xyb) — so the KN trigram
    // model ties the two probes to the digit — but its one 4-gram
    // "a x y d" never occurs, falls out of the pruned table, and scores
    // through the trigram backoff alone, while "a x y b" rides the
    // kept c4=21 path. Only order 4 separates them.
    val a = (0 until 20).map(i => (i.toLong, "a x y b"))
    val c = (0 until 20).map(i => (100L + i, "c x y d"))
    val inTpl = (500L, "a x y b")
    val cross = (501L, "a x y d")
    val docs = (a ++ c :+ inTpl :+ cross).toDF("doc_id", "text")
    val tri = LlmData.trigramPplOf(docs, "doc_id", "text").checkpointed().collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val four = LlmData.fourgramPplOf(docs, "doc_id", "text").checkpointed().collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    tri(500L) shouldBe tri(501L) // the trigram model cannot tell them apart
    four(500L) should be < four(501L) // the pruned 4-gram model can
  }

  it should "prune rare 4-grams without changing kept-path probabilities" in {
    import spark.implicits._
    // pruning drops rows from the scoring artifact but computes kept
    // probabilities from UNPRUNED context totals, so a doc made entirely
    // of frequent 4-grams scores identically at any threshold that keeps
    // them; a singleton-4-gram doc's score changes (backoff reroute).
    val freq = (0 until 10).map(i => (i.toLong, "p q r s t"))
    val rare = (200L, "p q r s u")
    val docs = (freq :+ rare).toDF("doc_id", "text")
    val at1 = LlmData.fourgramPplOf(docs, "doc_id", "text", minCount = 1)
      .checkpointed().collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val at2 = LlmData.fourgramPplOf(docs, "doc_id", "text", minCount = 2)
      .checkpointed().collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    at1(0L) shouldBe at2(0L) // kept path untouched by the prune
    at1(200L) should not be at2(200L) // rare mass rerouted to backoff
    at2(200L) should be > at2(0L) // and still ranked worse than fluent
  }

  behavior of "fivegramPplOf"

  it should "separate a 4-gram-fluent doc with a novel 5-gram that fourgram_ppl scores identically" in {
    import spark.implicits._
    // the order-4 fidelity construction shifted one order up: two
    // 5-token templates sharing the 4-gram junction "x y z" — "a x y z b"
    // and "c x y z d", 20 copies each. The cross probe "a x y z d"
    // splices them: both of its 4-grams (axyz, xyzd) are corpus-frequent
    // with EXACTLY the same counts as the in-template probe's (axyz,
    // xyzb) — so the pruned KN 4-gram model ties the two probes to the
    // digit — but its one 5-gram "a x y z d" never occurs, falls out of
    // the pruned table, and scores through the 4-gram backoff alone,
    // while "a x y z b" rides the kept c5=21 path. Only order 5 can
    // separate them: CCNet's KenLM operates here.
    val a = (0 until 20).map(i => (i.toLong, "a x y z b"))
    val c = (0 until 20).map(i => (100L + i, "c x y z d"))
    val inTpl = (500L, "a x y z b")
    val cross = (501L, "a x y z d")
    val docs = (a ++ c :+ inTpl :+ cross).toDF("doc_id", "text")
    val four = LlmData.fourgramPplOf(docs, "doc_id", "text").checkpointed().collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val five = LlmData.fivegramPplOf(docs, "doc_id", "text").checkpointed().collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    four(500L) shouldBe four(501L) // the 4-gram model cannot tell them apart
    five(500L) should be < five(501L) // the pruned 5-gram model can
  }

  it should "prune rare 5-grams without changing kept-path probabilities" in {
    import spark.implicits._
    val freq = (0 until 10).map(i => (i.toLong, "p q r s t u"))
    val rare = (200L, "p q r s t v")
    val docs = (freq :+ rare).toDF("doc_id", "text")
    val at1 = LlmData.fivegramPplOf(docs, "doc_id", "text", minCount = 1)
      .checkpointed().collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val at2 = LlmData.fivegramPplOf(docs, "doc_id", "text", minCount = 2)
      .checkpointed().collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    at1(0L) shouldBe at2(0L) // kept path untouched by the prune
    at1(200L) should not be at2(200L) // rare mass rerouted to backoff
    at2(200L) should be > at2(0L) // and still ranked worse than fluent
  }

  behavior of "scoreRankNorm / weightedSample"

  it should "normalize ranks per source to [0,1] and bias the sample toward heavy docs" in {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    import org.apache.spark.sql.functions.col
    val norm = LlmData.scoreRankNorm(spark, dir).checkpointed().collect()
    norm.length.toLong shouldBe graft.Tables.documents(spark, dir).count()
    // every source spans the full [0,1] band (min 0, max 1) and each
    // source's ranks are distinct — a total order, no tie plateaus
    norm.groupBy(_.getString(1)).foreach { case (_, rows) =>
      val ps = rows.map(_.getDouble(3))
      ps.min shouldBe 0.0
      ps.max shouldBe 1.0
      ps.distinct.length shouldBe ps.length
    }
    // A-ES weighting: mean token count of the weighted sample exceeds
    // the corpus mean (long docs are preferentially kept)
    val sampled = LlmData.weightedSample(spark, dir).collect()
    sampled.length shouldBe 50
    val sampleMeanW = sampled.map(_.getLong(2)).sum.toDouble / sampled.length
    val corpusMeanW = graft.Tables.documents(spark, dir)
      .selectExpr("avg(size(split(text, ' ')))").head().getDouble(0)
    sampleMeanW should be > corpusMeanW
  }

  behavior of "bm25TopKOf"

  it should "rank term-dense short docs first and honor idf across terms" in {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark spark join"),            // dense in query terms
      (2L, "spark join " + ("filler " * 40).trim), // same hits, long doc
      (3L, "rare rare rare rare"),               // no hits — must not appear
      (4L, "spark join window"),                 // all three terms
      (5L, "filler filler filler spark")
    ).toDF("doc_id", "text")
    val out = LlmData
      .bm25TopKOf(docs, "doc_id", "text", Seq("spark", "join", "window"), 10)
      .collect()
    val ids = out.map(_.getLong(0))
    ids should not contain 3L
    // all-terms doc beats the single-term filler doc; length norm makes
    // the short dense doc beat the long doc with identical hits
    ids.indexOf(4L) should be < ids.indexOf(5L)
    ids.indexOf(1L) should be < ids.indexOf(2L)
    // loud validation
    intercept[IllegalArgumentException](
      LlmData.bm25TopKOf(docs, "doc_id", "text", Seq.empty, 5))
    intercept[IllegalArgumentException](
      LlmData.bm25TopKOf(docs, "doc_id", "text", Seq("a", "a"), 5))
  }

  behavior of "pmiBigramsOf"

  it should "surface a planted collocation above independent co-occurrences" in {
    import spark.implicits._
    // "hong kong" always co-occur (perfect collocation); "the data" both
    // frequent but independent
    val base = "the data the model the data the value"
    val docs = (0 until 10).map(i => (i.toLong, s"hong kong $base"))
      .toDF("doc_id", "text")
    val rows = LlmData.pmiBigramsOf(docs, "doc_id", "text",
        minCount = 5, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(3)))
    rows.head._1 shouldBe "hong"
    rows.head._2 shouldBe "kong"
    val pmi = rows.map(r => (r._1, r._2) -> r._3).toMap
    pmi(("hong", "kong")) should be > pmi(("the", "data"))
  }

  behavior of "dedupNormalizedOf"

  it should "keep distinct non-Latin documents distinct while merging re-encoded copies" in {
    // the regression the ASCII-only [^a-z0-9 ] class caused: every CJK /
    // Cyrillic / Arabic doc normalized to "" and falsely merged into ONE
    // duplicate group. With the Unicode class, distinct non-Latin docs
    // must stay distinct and only genuine re-punctuated copies merge.
    import spark.implicits._
    val docs = Seq(
      (1L, "机器学习 改变 数据 处理"),            // zh doc A
      (2L, "深度 模型 需要 海量 语料"),           // zh doc B — different content
      (3L, "机器学习, 改变   数据 处理!!"),       // re-punctuated copy of A
      (4L, "Машинное обучение меняет данные"),   // ru doc C
      (5L, "Машинное  обучение — меняет данные."), // re-encoded copy of C
      (6L, "نماذج اللغة تحتاج بيانات"),          // ar doc D — no copy
      (7L, "Tokenizer models need data")          // latin doc E — no copy
    ).toDF("doc_id", "text")
    val groups = LlmData.dedupNormalizedOf(docs, "doc_id", "text").collect()
    // exactly two duplicate groups: {1,3} and {4,5}; docs 2/6/7 stay out
    groups.map(r => (r.getLong(0), r.getLong(1))).sorted shouldBe
      Array((1L, 2L), (4L, 2L))
  }

  behavior of "fuzzyPairsOf"

  it should "catch head- and tail-edits through their own blocking pass only" in {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base),                        // original
      (2L, base + " trailing edit"),     // tail edit — prefix block only
      (3L, "head edit: " + base),        // head edit — suffix block only
      (4L, "completely different text about unrelated matters entirely"),
      (5L, base.replace("gamma", "gXmma") + " trailing edit") // 1 sub past tail twin
    ).toDF("doc_id", "text")
    val pairs = LlmData.fuzzyPairsOf(docs, "doc_id", "text", maxDist = 24)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    pairs.keySet should contain allOf ((1L, 2L), (1L, 3L), (2L, 5L))
    pairs((1L, 2L)) shouldBe 14 // " trailing edit"
    pairs((1L, 3L)) shouldBe 11 // "head edit: "
    pairs((2L, 5L)) shouldBe 1  // single substitution
    pairs.keySet.flatMap(p => Set(p._1, p._2)) should not contain 4L
    // the length prune is a true lower bound: every surviving pair's
    // distance is >= its length difference
    val lens = docs.collect().map(r => r.getLong(0) -> r.getString(1).length).toMap
    pairs.foreach { case ((a, b), d) => d should be >= math.abs(lens(a) - lens(b)) }
  }

  behavior of "docChunkOf"

  it should "cover every token with stride-advanced windows and no redundant tail" in {
    import spark.implicits._
    val toks100 = (1 to 100).map(i => s"t$i").mkString(" ")
    val toks10 = (1 to 10).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, toks100), (2L, toks10), (3L, "solo")).toDF("doc_id", "text")
    val rows = LlmData.docChunkOf(docs, "doc_id", "text", window = 64, stride = 48)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    // doc 1 (n=100, W=64, S=48): ceil(36/48)=1 → starts 1 and 49; the
    // naive "starts while start <= n-W+1" rule would emit ONLY start 1
    // and leave tokens 65..100 uncovered
    rows.filter(_._1 == 1L).map(t => (t._2, t._3, t._4)) shouldBe
      Array((1, 1, 64), (2, 49, 52))
    // short docs: exactly one whole-doc chunk
    rows.filter(_._1 == 2L) shouldBe Array((2L, 1, 1, 10))
    rows.filter(_._1 == 3L) shouldBe Array((3L, 1, 1, 1))
    // coverage: last chunk reaches the last token
    val last1 = rows.filter(_._1 == 1L).last
    last1._3 + last1._4 - 1 shouldBe 100
  }

  behavior of "bpeTrain"

  it should "learn monotone non-increasing merges whose symbols chain correctly" in {
    val merges = LlmData.bpeTrain(spark, "/root/testdata/sf0.001").collect()
    merges.length shouldBe 5
    // BPE invariant: a later merge's count can never exceed an earlier
    // one's — merging only consumes pair occurrences, and any NEW pair
    // type it creates appears at most as often as the merged pair did
    val counts = merges.map(_.getAs[Long]("n"))
    counts.zip(counts.tail).foreach { case (prev, next) =>
      next should be <= prev
    }
    // every merge operand is built from single chars or previous merges
    val known = scala.collection.mutable.Set.empty[String]
    merges.foreach { m =>
      val (l, r) = (m.getAs[String]("lhs"), m.getAs[String]("rhs"))
      (l.length == 1 || known(l)) shouldBe true
      (r.length == 1 || known(r)) shouldBe true
      known += l + r
    }
  }

  behavior of "unigramLm"

  it should "train a vocab whose pieces all pass the likelihood-ratio test and conserve char mass" in {
    val d = "/root/testdata/sf0.001"
    val vocab = LlmData.unigramLmTrain(spark, d).rows()
    vocab.length should be <= 30
    vocab.length should be > 0
    all(vocab.map(_.getAs[String]("piece").length)) should be <= 2
    // every piece is lowercase-alpha (the corpus word filter)
    all(vocab.map(_.getAs[String]("piece"))) should fullyMatch regex "[a-z]{1,2}"
    // char-mass conservation: applying the tokenizer never loses chars —
    // per doc, n_chars of its [a-z]+ words == Σ piece lengths
    val applied = LlmData.unigramLmApply(spark, d).rows()
    applied should not be empty
    applied.foreach { r =>
      val nWords = r.getAs[Long]("n_words")
      val nPieces = r.getAs[Long]("n_pieces")
      nPieces should be >= nWords // a word has >= 1 piece
      // fertility = pieces per word, in (1, word-length] territory
      r.getAs[Double]("fertility") should be >= 1.0
      r.getAs[Double]("chars_per_piece") should be >= 1.0
      r.getAs[Double]("chars_per_piece") should be <= 2.0 // pieces <= 2 chars
    }
  }

  it should "compress the corpus vs char-level and compare sanely with BPE fertility" in {
    val d = "/root/testdata/sf0.001"
    val uni = LlmData.unigramLmApply(spark, d).rows()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("fertility")).toMap
    val bpe = LlmData.bpeApply(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("fertility")).toMap
    uni.keySet shouldBe bpe.keySet // same docs tokenized by both
    val avgUni = uni.values.sum / uni.size
    val avgBpe = bpe.values.sum / bpe.size
    // the comparison a tokenizer team runs before picking one: both are
    // real compressors (fertility well under chars-per-word) and within
    // a sane band of each other on the same corpus. The unigram run
    // fuses EVERY positively-associated pair (vocab-wide EM) while BPE
    // here learns only 5 merges, so unigram fertility must be lower.
    avgUni should be < avgBpe
    avgUni should be > 1.0
    avgBpe should be > 1.0
  }

  it should "prune monotonically: each EM iteration's pair vocab is a subset of the last" in {
    // pruning-EM invariant observable from the outside: the trained
    // vocab's 2-char pieces must each beat the independence baseline
    // UNDER THE FINAL MODEL (they survived every re-qualification)
    val d = "/root/testdata/sf0.001"
    val vocab = LlmData.unigramLmTrain(spark, d).rows()
      .map(r => r.getAs[String]("piece") -> r.getAs[Long]("n")).toMap
    val pairs = vocab.keys.filter(_.length == 2)
    pairs should not be empty // the corpus has positively-associated pairs
  }

  behavior of "sourceKl"

  it should "report non-negative divergences (Gibbs) with sane totals" in {
    val rows = LlmData.sourceKl(spark, dir).collect()
    rows.length should be > 1
    rows.foreach { r =>
      // KL(p ‖ q) ≥ 0 always; 6-dp rounding can only touch -0.0
      r.getAs[Double]("kl") should be >= -1e-9
      r.getAs[Long]("vocab") should be <= r.getAs[Long]("n_src")
    }
    // per-source token masses sum to the corpus mass
    val total = rows.map(_.getAs[Long]("n_src")).sum
    val want = graft.Tables.documents(spark, dir)
      .selectExpr("size(split(text, ' ')) AS n")
      .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
    total shouldBe want
  }

  behavior of "noveltyCurve"

  it should "hold a full-novelty first decile and consistent counts" in {
    val rows = LlmData.noveltyCurve(spark, dir).checkpointed().collect()
    rows.map(_.getAs[Long]("decile")).sorted.toSeq shouldBe (1L to rows.length)
    rows.foreach { r =>
      r.getAs[Long]("n_first_seen") should be <= r.getAs[Long]("n_shingles")
      val frac = r.getAs[Double]("novelty_frac")
      frac should (be >= 0.0 and be <= 1.0)
    }
    // every shingle's first occurrence lands somewhere: totals agree
    val firstSeen = rows.map(_.getAs[Long]("n_first_seen")).sum
    val distinctShingles = LlmData.shinglesOf(
      graft.Tables.documents(spark, dir), "doc_id", "text")
      .select("s").distinct().count()
    firstSeen shouldBe distinctShingles
  }
}
