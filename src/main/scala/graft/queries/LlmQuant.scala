package graft.queries

import graft.Tables
import graft.plans.Held
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.{vecDot, vecNorm}

/** Vector-quantization family: product quantization (raw, trained,
  * persisted probe) and scalar SQ8 — the memory-bound serving tier on
  * top of [[LlmAnnOps]]'s IVF machinery. Mixed into [[LlmData]]; see
  * its scaladoc for the engine-wide scale notes. */
trait LlmQuantOps extends LlmAnnOps {

  /** PQ-coded (ADC) probe over the PUBLISHED index — the serving path
    * that never moves full vectors until the shortlist: probe selection
    * is the committed-centroid literal (row-local, no shuffle), the
    * candidate stream is the committed `codes` table — (id, cell, m
    * small ints) rows only — ranked by asymmetric distance against the
    * committed per-subspace codebook (an O(m·kcb·sub) literal of lookup
    * maps), and only the top-`shortlistN` survivors join the full unit
    * vectors in `lists` for the exact cosine re-rank. At 100 TB the
    * full-vector traffic is |probes|×shortlist rows; everything upstream
    * is codes. Same composition as [[annIvfPq]] but with the TRAINED
    * coarse quantizer the published index commits, and no index build
    * anywhere in the plan. */
  def annIvfPqProbePersisted(s: SparkSession, dir: String,
                             shortlistN: Int = 50, topK: Int = 3): DataFrame = {
    val root = ivfIndexPublish(s, dir)
    val cents: Seq[(Long, Array[Double])] =
      graft.plans.SnapshotStore.readLatest(s, s"$root/centroids")
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).toSeq
    val np = adaptiveNprobe(cents.size)
    // committed codebook back as per-subspace literal lookup maps
    val cbSub: Seq[Seq[(Long, Array[Double])]] = {
      val rows = graft.plans.SnapshotStore.readLatest(s, s"$root/codebook")
        .collect().map(r => (r.getInt(0), r.getLong(1),
          r.getSeq[Double](2).toArray))
      (0 until PqM).map(j => rows.filter(_._1 == j)
        .map { case (_, cid, cw) => (cid, cw) }.sortBy(_._1).toSeq)
    }
    val cwMap = (0 until PqM).map(j => typedlit(cbSub(j).map {
      case (cid, cv) => cid -> cv.toSeq }.toMap))
    val c2Map = (0 until PqM).map(j => typedlit(cbSub(j).map {
      case (cid, cv) => cid -> cv.foldLeft(0.0)((a, x) => a + x * x) }.toMap))
    val probes = Tables.embeddings(s, dir)
      .filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("x2", vecDot(col("v"), col("v")))
      .withColumn("pr", slice(array_sort(transform(centArrOf(cents), c =>
        struct(round(centD2(c), 6).as("rd2"), c("cid").as("cid")))), 1, np))
      .select(col("vec_id").as("q_id"), explode(col("pr")).as("p"))
      .select(col("q_id"), col("p.cid").as("cent_id"))
    val qv = Tables.embeddings(s, dir).filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), vecNorm(col("embedding")).as("qv"))
    val codes = graft.plans.SnapshotStore.readLatest(s, s"$root/codes")
    val cand = probes.join(codes, "cent_id")
      .filter(col("q_id") =!= col("c_id"))
      .join(broadcast(qv), "q_id")
    val adc = (0 until PqM).map { j =>
      val qs = slice(col("qv"), j * PqSub + 1, PqSub)
      vecDot(qs, qs) + element_at(c2Map(j), col(s"c$j")) -
        lit(2.0) * vecDot(qs, element_at(cwMap(j), col(s"c$j")))
    }.reduce(_ + _)
    val short = cand.withColumn("adc", adc)
      .withColumn("srn", row_number().over(
        Window.partitionBy("q_id").orderBy(round(col("adc"), 6), col("c_id"))))
      .filter(col("srn") <= shortlistN)
    val lists = graft.plans.SnapshotStore.readLatest(s, s"$root/lists")
      .select(col("c_id"), col("cvn"))
    short
      .join(lists, "c_id")
      .select(col("q_id"), col("c_id"),
        round(vecDot(col("qv"), col("cvn")), 4).as("cos_sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos_sim"), asc("c_id"))))
      .filter(col("rnk") <= topK)
      .select("q_id", "rnk", "c_id", "cos_sim")
      .orderBy("q_id", "rnk")
  }




  /** IVF-PQ — the production billion-scale ANN shape, end to end: IVF
    * coarse cells bound the candidate set (the same adaptive k/nprobe as
    * [[annIvf]]), PQ asymmetric distance (ADC) ranks candidates WITHOUT
    * touching full vectors (codes + a literal codebook — row-local lookups,
    * no vector shuffle), and only the top-`shortlistN` survivors are
    * re-ranked with exact cosine. At 100 TB the full-vector join is thus
    * bounded to |probes|×shortlist rows; everything upstream of the re-rank
    * moves (id, cell, 4 codes) rows only. All in cosine space on
    * normalized vectors (ADC in L2-on-unit-sphere ≡ monotone in cosine).
    * The raw first-k codebook keeps the oracle compact; the TRAINED
    * per-subspace Lloyd codebooks ([[embedPqTrained]]/[[lloydFit]], −34%
    * quantization error) drop into `cbVecs` unchanged — both quantizer
    * training paths are independently oracle-verified. */
  def annIvfPq(s: SparkSession, dir: String, k: Int = -1, nprobe: Int = -1,
               shortlistN: Int = 50, topK: Int = 3): Held = {
    val m = 4; val sub = 16; val kcb = 8
    // id + unit vector: read by the count, the seed sample, the codebook
    // collect, assignment, codes, and re-rank
    val Held(e, eH) = Held.cached(Tables.embeddings(s, dir)
      .select(col("vec_id"), vecNorm(col("embedding")).as("vn")))
    val kAdapt = if (k > 0) k else adaptiveCoarseK(e.count())
    val np = if (nprobe > 0) nprobe else adaptiveNprobe(kAdapt)
    val cents = coarseSeeds(e, kAdapt)
      .select(col("vec_id").as("cent_id"), col("vn").as("cv"))
    val scored = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        round(vecDot(col("vn"), col("cv")), 6).as("d"))
    val assigned = scored.withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(desc("d"), asc("cent_id"))))
      .filter(col("rn") <= np)
      .select("vec_id", "cent_id", "rn")
    // PQ codebooks, per subspace: the normalized subvectors of the first
    // kcb vectors — O(m·kcb·sub) driver literals
    val cbVecs = e.filter(col("vec_id") < kcb)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq
    val cbSub: Seq[Seq[(Long, Array[Double])]] = (0 until m).map(j =>
      cbVecs.map { case (cid, v) => (cid, v.slice(j * sub, (j + 1) * sub)) })
    // per-subspace lookup maps: code -> codeword subvector / squared norm
    val cwMap = (0 until m).map(j => typedlit(cbSub(j).map { case (cid, cv) =>
      cid -> cv.toSeq }.toMap))
    val c2Map = (0 until m).map(j => typedlit(cbSub(j).map { case (cid, cv) =>
      cid -> cv.foldLeft(0.0)((a, x) => a + x * x) }.toMap))
    // encode every db vector (row-local argmin per subspace, as embedPq)
    val codes = (0 until m).foldLeft(e) { (df, j) =>
      val cbArr = array(cbSub(j).map { case (cid, cv) =>
        struct(lit(cid).as("cid"),
          array(cv.map(lit(_)).toIndexedSeq: _*).as("cv"),
          lit(cv.foldLeft(0.0)((a, x) => a + x * x)).as("c2"))
      }: _*)
      val sv = slice(col("vn"), j * sub + 1, sub)
      def d2(c: org.apache.spark.sql.Column) =
        vecDot(sv, sv) + c("c2") - lit(2.0) * vecDot(sv, c("cv"))
      df.withColumn(s"c$j", array_min(transform(cbArr, c =>
        struct(round(d2(c), 6).as("rd2"), c("cid").as("cid")))).getField("cid"))
    }.select(col("vec_id").as("c_id") +: (0 until m).map(j => col(s"c$j")): _*)
    val lists = assigned.filter(col("rn") === 1)
      .select(col("vec_id").as("c_id"), col("cent_id"))
      .join(codes, "c_id")
    val probes = assigned.filter(col("vec_id") < 8).join(e, "vec_id")
      .select(col("vec_id").as("q_id"), col("vn").as("qv"), col("cent_id"))
    val cand = probes.join(lists, "cent_id").filter(col("q_id") =!= col("c_id"))
    val adc = (0 until m).map { j =>
      val qs = slice(col("qv"), j * sub + 1, sub)
      vecDot(qs, qs) + element_at(c2Map(j), col(s"c$j")) -
        lit(2.0) * vecDot(qs, element_at(cwMap(j), col(s"c$j")))
    }.reduce(_ + _)
    val short = cand.withColumn("adc", adc)
      .withColumn("srn", row_number().over(
        Window.partitionBy("q_id").orderBy(round(col("adc"), 6), col("c_id"))))
      .filter(col("srn") <= shortlistN)
    Held(short
      .join(e.select(col("vec_id").as("c_id"), col("vn").as("cvn")), "c_id")
      .select(col("q_id"), col("c_id"),
        round(vecDot(col("qv"), col("cvn")), 4).as("cos_sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos_sim"), asc("c_id"))))
      .filter(col("rnk") <= topK)
      .select("q_id", "rnk", "c_id", "cos_sim")
      .orderBy("q_id", "rnk"), eH)
  }




  /** Product quantization (PQ) — the memory side of billion-scale ANN
    * (IVF-PQ): each vector is split into `m` subspaces and every subspace
    * is encoded as its nearest codeword id, compressing a 64-double vector
    * to `m` small ints. Output: per-vector code + total reconstruction
    * error (the quantity a PQ codebook is trained to minimize; ADC search
    * ranks by exactly these subspace distances).
    *
    * Scale design: the codebooks (m × k subvectors) are driver-side
    * literals like the k-means centroids — encoding is ROW-LOCAL (one
    * argmin expression per subspace per row, no shuffle, no join), so the
    * encode pass is a map-only scan at any corpus size. Codebook size is
    * FIXED (first k vectors), independent of SF — at 100 TB you'd train
    * it on a driver-collected sample exactly like this. Ties break on
    * (round(d2, 6), codeword id), the same cross-engine-stable rule as
    * k-means. */
  def embedPq(s: SparkSession, dir: String, m: Int = 4, k: Int = 8): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val dim = 64
    val sub = dim / m
    // codebook: subvectors of the first k vectors (deterministic, SF-stable)
    val cb: Map[Int, Seq[(Long, Array[Double])]] = e.filter(col("vec_id") < k)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
      .flatMap { case (id, v) =>
        (0 until m).map(j => j -> (id, v.slice(j * sub, (j + 1) * sub)))
      }
      .groupBy(_._1).map { case (j, rows) => j -> rows.map(_._2).toSeq }
    val withBest = (0 until m).foldLeft(e) { (df, j) =>
      val cbArr = array(cb(j).map { case (cid, cv) =>
        struct(lit(cid).as("cid"),
          array(cv.map(lit(_)): _*).as("cv"),
          lit(cv.foldLeft(0.0)((a, x) => a + x * x)).as("c2"))
      }: _*)
      val sv = slice(col("v"), j * sub + 1, sub)
      def d2(c: org.apache.spark.sql.Column) =
        vecDot(sv, sv) + c("c2") - lit(2.0) * vecDot(sv, c("cv"))
      df.withColumn(s"best$j", array_min(transform(cbArr, c =>
        struct(round(d2(c), 6).as("rd2"), c("cid").as("cid"), d2(c).as("d2")))))
    }
    withBest.select(
      col("vec_id") +:
        (0 until m).map(j => col(s"best$j.cid").as(s"c$j")) :+
        round((0 until m).map(j => col(s"best$j.d2")).reduce(_ + _), 4)
          .as("err"): _*)
      .orderBy("vec_id")
  }




  /** PQ with TRAINED per-subspace codebooks — [[embedPq]]'s raw
    * first-k-subvector codewords replaced by a deterministic 2-round
    * Lloyd fit in EACH subspace (the same [[lloydFit]] the trained IVF
    * uses, over the sliced vectors), which is how production PQ is
    * actually trained (FAISS `ProductQuantizer::train` = per-subspace
    * k-means). Codebooks stay O(m·k·sub) driver/literal state; training
    * is m independent narrow aggregations; encoding is the same row-local
    * literal-argmin. The spec asserts the trained codebook strictly
    * reduces mean quantization error vs the raw seeds. */
  def embedPqTrained(s: SparkSession, dir: String,
                     m: Int = 4, k: Int = 8): Held = {
    val dim = 64
    val sub = dim / m
    val base = Held.cached(Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v")))
    val subAssigns = (0 until m).map { j =>
      // read once per Lloyd round + final encode
      val ej = Held.cached(base.frame.select(col("vec_id"),
          slice(col("v"), j * sub + 1, sub).as("v"))
        .withColumn("x2", vecDot(col("v"), col("v"))))
      ej.map(assignBest(_, lloydFit(ej.frame, k))
        .select(col("vec_id"), col("cid").as(s"c$j"), col("d2").as(s"d$j")))
    }
    Held(subAssigns.map(_.frame).reduce(_.join(_, "vec_id"))
      .select(col("vec_id") +:
        (0 until m).map(j => col(s"c$j")) :+
        round((0 until m).map(j => col(s"d$j")).reduce(_ + _), 4).as("err"): _*)
      .orderBy("vec_id"), base.handles ++ subAssigns.flatMap(_.handles))
  }




  /** Scalar-quantized (SQ8) ANN — the memory-bandwidth scale path
    * (FAISS's `ScalarQuantizer` QT_8bit): each dimension of the normalized
    * vector is affinely coded into 0..255 against the corpus-wide
    * per-dimension [min, max], the shortlist is ranked on the DEQUANTIZED
    * approximate cosine, and the exact float vectors re-rank only the
    * shortlist. At 100 TB the scan reads uint8 codes — 8× fewer bytes than
    * float64 — while the [min,max] codebook is O(dim) (a 2×64-double
    * broadcast literal here), and re-ranking touches `shortlist` rows per
    * query instead of the corpus.
    *
    * Determinism across engines: quantization runs on the normalized
    * vector ROUNDED to 1e-6 (both engines then see identical decimal
    * inputs, so min/max/codes match bit-for-bit), and the shortlist ranks
    * on round(approx, 4) with a c_id tie-break. */
  def annSq8(s: SparkSession, dir: String,
             topk: Int = 3, shortlist: Int = 12): Held = {
    // read by the min/max collect + both sides of the score join
    val Held(e, eH) = Held.cached(Tables.embeddings(s, dir)
      .select(col("vec_id"), vecNorm(col("embedding")).as("vn"))
      .withColumn("vq", expr("transform(vn, x -> round(x, 6))")))
    // per-dimension [min,max]: one narrow agg to O(dim) rows — the SQ
    // "codebook", collected and re-broadcast as literals (like an IVF
    // centroid set, it is O(dim), never O(N))
    val mm = e.select(posexplode(col("vq")).as(Seq("i", "x")))
      .groupBy("i").agg(min("x").as("mn"), max("x").as("mx"))
      .orderBy("i").collect()
    val mnA = array(mm.map(r => lit(r.getDouble(1))).toIndexedSeq: _*)
    val mxA = array(mm.map(r => lit(r.getDouble(2))).toIndexedSeq: _*)
    val coded = e
      .withColumn("mn", mnA).withColumn("mx", mxA)
      // code = round(255·(x−mn)/(mx−mn)) ∈ 0..255; constant dims code to 0
      .withColumn("dq", expr(
        """transform(transform(vq, (x, i) ->
          |   CASE WHEN mx[i] = mn[i] THEN 0.0D
          |        ELSE round(255 * (x - mn[i]) / (mx[i] - mn[i])) END),
          | (c, i) -> mn[i] + c * (mx[i] - mn[i]) / 255)""".stripMargin))
      .select("vec_id", "vn", "dq")
    val q = coded.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("vn").as("qv"), col("dq").as("qd"))
    // broadcast the BOUNDED query set explicitly: left to its size
    // estimates Spark broadcasts the corpus side (both sides read the same
    // scan, so the stats tie) — correct at test SF, impossible at 100 TB
    val short = broadcast(q).crossJoin(coded.select(col("vec_id").as("c_id"),
        col("vn").as("cv"), col("dq").as("cd")))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("approx", round(vecDot(col("qd"), col("cd")), 4))
      .withColumn("srnk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("approx"), asc("c_id"))))
      .filter(col("srnk") <= shortlist)
    Held(short
      .withColumn("cos_sim", round(vecDot(col("qv"), col("cv")), 4))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos_sim"), asc("c_id"))))
      .filter(col("rnk") <= topk)
      .select("q_id", "rnk", "c_id", "cos_sim")
      .orderBy("q_id", "rnk"), eH)
  }




  /** DuckDB oracle SQL for this family's contract queries. */
  protected val quantOracles: Map[String, String] = Map(
    "ann_ivfpq" -> {
      val sub = 16
      // per-subspace code-assignment CTE (on NORMALIZED vectors)
      val codeCtes = (0 until 4).map { j =>
        val lo = j * sub + 1
        val hi = (j + 1) * sub
        s"""p$j AS (SELECT vec_id, cid AS c$j FROM (
           |   SELECT s.vec_id, b.cid,
           |     list_dot_product(s.sv, s.sv) + list_dot_product(b.sc, b.sc)
           |       - 2 * list_dot_product(s.sv, b.sc) AS d2
           |   FROM (SELECT vec_id, list_slice(vn, $lo, $hi) AS sv FROM en) s,
           |        (SELECT cid, list_slice(vn, $lo, $hi) AS sc FROM cb) b)
           | QUALIFY row_number() OVER (PARTITION BY vec_id
           |   ORDER BY round(d2, 6), cid) = 1)""".stripMargin
      }.mkString(",\n ")
      val adcTerms = (0 until 4).map { j =>
        val lo = j * sub + 1
        val hi = (j + 1) * sub
        s"""(list_dot_product(list_slice(q.vn, $lo, $hi), list_slice(q.vn, $lo, $hi))
           |   + list_dot_product(list_slice(b$j.vn, $lo, $hi), list_slice(b$j.vn, $lo, $hi))
           |   - 2 * list_dot_product(list_slice(q.vn, $lo, $hi), list_slice(b$j.vn, $lo, $hi)))""".stripMargin
      }.mkString(" + ")
      val cbJoins = (0 until 4)
        .map(j => s"JOIN cb b$j ON b$j.cid = codes.c$j").mkString(" ")
      s"""WITH $adaptiveKCte,
         | en AS (SELECT vec_id,
         |   list_transform(embedding::DOUBLE[],
         |     x -> x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS vn
         |  FROM embeddings),
         | c AS (SELECT vec_id AS cent_id, vn AS cv
         |   FROM (SELECT * FROM en ORDER BY $seedOrderSql LIMIT (SELECT k FROM kk))),
         | sc AS (SELECT en.vec_id, c.cent_id,
         |     round(list_dot_product(en.vn, c.cv), 6) AS d FROM en, c),
         | a AS (SELECT vec_id, cent_id,
         |     row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cent_id) AS rn
         |   FROM sc),
         | cb AS (SELECT vec_id AS cid, vn FROM en WHERE vec_id < 8),
         | $codeCtes,
         | codes AS (SELECT vec_id AS c_id, c0, c1, c2, c3
         |   FROM p0 JOIN p1 USING (vec_id) JOIN p2 USING (vec_id)
         |     JOIN p3 USING (vec_id)),
         | lists AS (SELECT vec_id AS c_id, cent_id FROM a WHERE rn = 1),
         | probes AS (SELECT vec_id AS q_id, cent_id FROM a
         |   WHERE vec_id < 8 AND rn <= (SELECT np FROM kk)),
         | cand AS (SELECT p.q_id, l.c_id FROM probes p JOIN lists l
         |   USING (cent_id) WHERE p.q_id <> l.c_id),
         | adc AS (SELECT cand.q_id, cand.c_id, $adcTerms AS adc
         |   FROM cand JOIN codes USING (c_id)
         |     JOIN en q ON q.vec_id = cand.q_id $cbJoins),
         | short AS (SELECT q_id, c_id FROM (
         |     SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
         |       ORDER BY round(adc, 6), c_id) AS srn FROM adc)
         |   WHERE srn <= 50),
         | rer AS (SELECT s.q_id, s.c_id,
         |     round(list_dot_product(q.vn, cv.vn), 4) AS cos_sim
         |   FROM short s JOIN en q ON q.vec_id = s.q_id
         |     JOIN en cv ON cv.vec_id = s.c_id)
         |SELECT q_id, rnk, c_id, cos_sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos_sim DESC, c_id) AS rnk FROM rer)
         |WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin
    },
    "ann_probe_pq" -> {
      // trained-coarse cells (the published index's kmeans CTEs) + the
      // raw-first-8 PQ codebook on UNIT vectors: ADC shortlist, exact
      // cosine re-rank — replays the committed codes/codebook/lists
      // artifact end to end
      val sub = 16
      val codeCtes = (0 until 4).map { j =>
        val lo = j * sub + 1
        val hi = (j + 1) * sub
        s"""p$j AS (SELECT vec_id, cid AS c$j FROM (
           |   SELECT s.vec_id, b.cid,
           |     list_dot_product(s.sv, s.sv) + list_dot_product(b.sc, b.sc)
           |       - 2 * list_dot_product(s.sv, b.sc) AS d2
           |   FROM (SELECT vec_id, list_slice(vn, $lo, $hi) AS sv FROM en) s,
           |        (SELECT cid, list_slice(vn, $lo, $hi) AS sc FROM cb) b)
           | QUALIFY row_number() OVER (PARTITION BY vec_id
           |   ORDER BY round(d2, 6), cid) = 1)""".stripMargin
      }.mkString(",\n ")
      val adcTerms = (0 until 4).map { j =>
        val lo = j * sub + 1
        val hi = (j + 1) * sub
        s"""(list_dot_product(list_slice(q.vn, $lo, $hi), list_slice(q.vn, $lo, $hi))
           |   + list_dot_product(list_slice(b$j.vn, $lo, $hi), list_slice(b$j.vn, $lo, $hi))
           |   - 2 * list_dot_product(list_slice(q.vn, $lo, $hi), list_slice(b$j.vn, $lo, $hi)))""".stripMargin
      }.mkString(" + ")
      val cbJoins = (0 until 4)
        .map(j => s"JOIN cb b$j ON b$j.cid = codes.c$j").mkString(" ")
      s"""${kmeansCtesWith("(SELECT k FROM kk)", pre = s"$adaptiveKCte,\n ")},
         | en AS (SELECT vec_id,
         |   list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn
         |  FROM e),
         | sq AS (SELECT e.vec_id, c.cid,
         |     e.x2 + list_dot_product(c.cv, c.cv)
         |       - 2 * list_dot_product(e.v, c.cv) AS d2
         |   FROM e, c2 c WHERE e.vec_id < 8),
         | probes AS (SELECT vec_id AS q_id, cid AS cent_id FROM (
         |     SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
         |       ORDER BY round(d2, 6), cid) AS rn FROM sq)
         |   WHERE rn <= (SELECT np FROM kk)),
         | lists AS (SELECT vec_id AS c_id, cid AS cent_id FROM a3),
         | cb AS (SELECT vec_id AS cid, vn FROM en WHERE vec_id < 8),
         | $codeCtes,
         | codes AS (SELECT vec_id AS c_id, c0, c1, c2, c3
         |   FROM p0 JOIN p1 USING (vec_id) JOIN p2 USING (vec_id)
         |     JOIN p3 USING (vec_id)),
         | cand AS (SELECT p.q_id, l.c_id FROM probes p JOIN lists l
         |   USING (cent_id) WHERE p.q_id <> l.c_id),
         | adc AS (SELECT cand.q_id, cand.c_id, $adcTerms AS adc
         |   FROM cand JOIN codes USING (c_id)
         |     JOIN en q ON q.vec_id = cand.q_id $cbJoins),
         | short AS (SELECT q_id, c_id FROM (
         |     SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
         |       ORDER BY round(adc, 6), c_id) AS srn FROM adc)
         |   WHERE srn <= 50),
         | rer AS (SELECT s.q_id, s.c_id,
         |     round(list_dot_product(q.vn, cv.vn), 4) AS cos_sim
         |   FROM short s JOIN en q ON q.vec_id = s.q_id
         |     JOIN en cv ON cv.vec_id = s.c_id)
         |SELECT q_id, rnk, c_id, cos_sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos_sim DESC, c_id) AS rnk FROM rer)
         |WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin
    },
    "embed_pq" -> {
      // one assignment CTE per subspace: slice both sides, nearest codeword
      // by (round(d2, 6), cid) — identical tie rule to the Spark argmin
      val sub = 16
      val perSub = (0 until 4).map { j =>
        val lo = j * sub + 1
        val hi = (j + 1) * sub
        s"""a$j AS (SELECT vec_id, cid, d2 FROM (
           |   SELECT s.vec_id, c.cid,
           |     list_dot_product(s.sv, s.sv) + list_dot_product(c.sc, c.sc)
           |       - 2 * list_dot_product(s.sv, c.sc) AS d2
           |   FROM (SELECT vec_id, list_slice(v, $lo, $hi) AS sv FROM e) s,
           |        (SELECT cid, list_slice(v, $lo, $hi) AS sc FROM cb) c)
           | QUALIFY row_number() OVER (PARTITION BY vec_id
           |   ORDER BY round(d2, 6), cid) = 1)""".stripMargin
      }.mkString(",\n ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         | cb AS (SELECT vec_id AS cid, v FROM e WHERE vec_id < 8),
         | $perSub
         |SELECT e.vec_id, a0.cid AS c0, a1.cid AS c1, a2.cid AS c2, a3.cid AS c3,
         | round(a0.d2 + a1.d2 + a2.d2 + a3.d2, 4) AS err
         |FROM e JOIN a0 USING (vec_id) JOIN a1 USING (vec_id)
         | JOIN a2 USING (vec_id) JOIN a3 USING (vec_id)
         |ORDER BY vec_id""".stripMargin
    },
    "embed_pq_trained" -> {
      // one full Lloyd chain per subspace (c0 -> a1 -> c1 -> a2 -> c2 ->
      // a3), each over the SLICED vectors — the per-subspace twin of the
      // embed_kmeans replay, same tie rule / rounding / empty-cluster
      // coalesce
      val sub = 16
      val k = 8
      def assign(a: String, e: String, c: String) =
        s"""$a AS (SELECT vec_id, v, cid, d2 FROM (
           |   SELECT e.vec_id, e.v, c.cid,
           |     e.x2 + list_dot_product(c.cv, c.cv)
           |       - 2 * list_dot_product(e.v, c.cv) AS d2
           |   FROM $e e, $c c)
           |  QUALIFY row_number() OVER (PARTITION BY vec_id
           |    ORDER BY round(d2, 6), cid) = 1)""".stripMargin
      def update(u: String, a: String, cPrev: String, cNew: String) =
        s"""$u AS (SELECT cid, i, round(avg(v[i]), 6) AS m
           |   FROM $a, unnest(generate_series(1, len(v))) AS t(i)
           |   GROUP BY cid, i),
           | ${cNew}raw AS (SELECT cid, list(m ORDER BY i) AS cv
           |   FROM $u GROUP BY cid),
           | $cNew AS (SELECT $cPrev.cid, coalesce(${cNew}raw.cv, $cPrev.cv) AS cv
           |   FROM $cPrev LEFT JOIN ${cNew}raw USING (cid))""".stripMargin
      def chain(j: Int): String = {
        val lo = j * sub + 1
        val hi = (j + 1) * sub
        Seq(
          s"""e$j AS (SELECT vec_id, list_slice(v, $lo, $hi) AS v,
             |   list_dot_product(list_slice(v, $lo, $hi),
             |                    list_slice(v, $lo, $hi)) AS x2
             |  FROM eb)""".stripMargin,
          s"""c0_$j AS (SELECT vec_id AS cid,
             |   list_transform(v, x -> round(x, 6)) AS cv
             |  FROM (SELECT * FROM e$j ORDER BY $seedOrderSql LIMIT $k))""".stripMargin,
          assign(s"a1_$j", s"e$j", s"c0_$j"),
          update(s"u1_$j", s"a1_$j", s"c0_$j", s"c1_$j"),
          assign(s"a2_$j", s"e$j", s"c1_$j"),
          update(s"u2_$j", s"a2_$j", s"c1_$j", s"c2_$j"),
          assign(s"a3_$j", s"e$j", s"c2_$j")).mkString(",\n ")
      }
      s"""WITH eb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         | ${(0 until 4).map(chain).mkString(",\n ")}
         |SELECT eb.vec_id, a3_0.cid AS c0, a3_1.cid AS c1, a3_2.cid AS c2,
         | a3_3.cid AS c3,
         | round(a3_0.d2 + a3_1.d2 + a3_2.d2 + a3_3.d2, 4) AS err
         |FROM eb JOIN a3_0 USING (vec_id) JOIN a3_1 USING (vec_id)
         | JOIN a3_2 USING (vec_id) JOIN a3_3 USING (vec_id)
         |ORDER BY vec_id""".stripMargin
    },
    "ann_sq8" ->
      """WITH e AS (SELECT vec_id,
        |   list_transform(embedding::DOUBLE[],
        |     x -> x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS vn
        |  FROM embeddings),
        | eq AS (SELECT vec_id, vn, list_transform(vn, x -> round(x, 6)) AS vq FROM e),
        | dims AS (SELECT i, min(vq[i]) AS mn, max(vq[i]) AS mx
        |   FROM eq, unnest(generate_series(1, len(vq))) AS t(i) GROUP BY i),
        | mm AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM dims),
        | dq AS (SELECT vec_id, vn,
        |   list_transform(generate_series(1, len(vq)), i ->
        |     mns[i] + (CASE WHEN mxs[i] = mns[i] THEN 0.0
        |               ELSE round(255 * (vq[i] - mns[i]) / (mxs[i] - mns[i])) END)
        |              * (mxs[i] - mns[i]) / 255) AS dq
        |   FROM eq, mm),
        | sl AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id, q.vn AS qv, c.vn AS cv,
        |    round(list_dot_product(q.dq, c.dq), 4) AS approx
        |   FROM dq q, dq c WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id
        |   QUALIFY row_number() OVER (PARTITION BY q.vec_id
        |     ORDER BY approx DESC, c.vec_id) <= 12)
        |SELECT q_id, rnk, c_id, cos_sim FROM (
        |  SELECT q_id, c_id, round(list_dot_product(qv, cv), 4) AS cos_sim,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY round(list_dot_product(qv, cv), 4) DESC, c_id) AS rnk
        |  FROM sl)
        |WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin)
}

