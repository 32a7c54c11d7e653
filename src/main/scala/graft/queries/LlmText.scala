package graft.queries

import graft.Tables
import graft.plans.Held
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tokenizer / text-identity family: BPE and unigram-LM training,
  * application and persisted artifacts, language-ID markers and
  * profiles, document fingerprinting and winnowing. Mixed into
  * [[LlmData]]; see its scaladoc for the engine-wide scale notes. */
trait LlmTextOps extends LlmCore {

  /** BPE-style pre-tokenization counts: the GPT-2-family pretoken regex
    * (contraction suffixes | space-prefixed letter runs | digit runs |
    * punctuation runs | whitespace) — the unit a byte-pair tokenizer
    * would merge within. Per-doc pretoken count + content hash, plus the
    * whitespace-token count for comparison. Row-local regex → codegen,
    * no shuffle except the final sort. */
  /** Number of BPE merge-training iterations for [[bpeTrain]] — a model
    * hyperparameter (real vocabularies run tens of thousands; 5 keeps the
    * oracle's unrolled replay tractable while exercising the full loop). */
  private val BpeMerges = 5


  /** BPE VOCABULARY TRAINING (Sennrich et al., ACL'16): learn the first k
    * merge rules over the corpus vocabulary — the step that turns
    * [[tokenBpe]]'s pre-tokenizer into an actual trained tokenizer.
    *
    * Shape, per merge iteration:
    *  1. adjacent-symbol pair counts: one shuffle over
    *     O(|vocab| · avg word length) rows — the corpus itself is touched
    *     ONCE (word frequencies), everything after runs on the vocabulary
    *     table, which Heaps' law keeps sublinear in corpus size;
    *  2. the argmax pair comes to the driver (O(1) state per iteration,
    *     the same bounded-collect contract as the Lloyd codebooks);
    *  3. the merge itself is a row-local array fold (`aggregate`) —
    *     leftmost non-overlapping, provably equal to the sequential BPE
    *     merge pass because a merged token can never equal its own left
    *     constituent.
    * Per-iteration frames are checkpointed so the fold chain never
    * re-executes. The oracle replays all k
    * iterations as unrolled CTEs with a `list_reduce` fold.
    * Ties are broken (count desc, lhs, rhs) — fully deterministic. */
  /** One leftmost-non-overlapping merge pass of pair (a, b) over a symbol
    * array — row-local, shared by training and application. */
  private def bpeMergeFold(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(try_element_at(acc, lit(-1)) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))


  /** The merge-learning loop shared by [[bpeTrain]] and [[bpeApply]]:
    * returns the k learned merges (driver state O(k)). */
  private def bpeFit(s: SparkSession, dir: String): Seq[(Int, String, String, Long)] = {
    val words = Tables.documents(s, dir)
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("syms", split(col("word"), ""))
    var syms = words.localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (k <- 1 to BpeMerges) {
      val pairs = syms.select(col("freq"),
          explode(zip_with(
            slice(col("syms"), lit(1), size(col("syms")) - 1),
            slice(col("syms"), lit(2), size(col("syms")) - 1),
            (x, y) => struct(x.as("a"), y.as("b")))).as("z"))
        .groupBy(col("z.a").as("a"), col("z.b").as("b"))
        .agg(sum("freq").as("n"))
      val top = pairs.orderBy(desc("n"), asc("a"), asc("b")).limit(1).collect()
      require(top.nonEmpty, s"bpeTrain: no adjacent pairs left at merge $k " +
        "— corpus vocabulary is single-character words")
      val (a, b) = (top(0).getString(0), top(0).getString(1))
      merges += ((k, a, b, top(0).getLong(2)))
      val next = syms.withColumn("syms", bpeMergeFold(col("syms"), a, b))
        .localCheckpoint(true)
      Held.release(syms)
      syms = next
    }
    Held.release(syms)
    merges.toSeq
  }

  def bpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bpeFit(s, dir).toDF("step", "lhs", "rhs", "n").orderBy("step")
  }


  /** BPE TOKENIZATION with the learned merges — the apply half of the
    * train/apply lifecycle: per document, word/token/char accounting and
    * the fertility (tokens per word) + compression (chars per token)
    * ratios a tokenizer team watches per corpus slice.
    *
    * The merges are applied on the DISTINCT vocabulary (Heaps-bounded) as
    * k row-local folds; the corpus-sized frame only pays a broadcast-sized
    * join against that vocab table — at 100 TB the tokenization cost is
    * the scan, not the merge table. */
  def bpeApply(s: SparkSession, dir: String): DataFrame =
    bpeApplyWith(s, dir, bpeFit(s, dir).map(m => (m._2, m._3)))


  /** Tokenize with an explicit (ordered) merge list — shared by the
    * inline [[bpeApply]] and the artifact-loading [[bpeApplyPersisted]],
    * so "persisted path ≡ inline path" is equality of inputs, not of two
    * implementations. */
  private def bpeApplyWith(s: SparkSession, dir: String,
                           merges: Seq[(String, String)]): DataFrame = {
    val docWords = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
    var vocab = docWords.select("word").distinct()
      .withColumn("syms", split(col("word"), ""))
    merges.foreach { case (a, b) =>
      vocab = vocab.withColumn("syms", bpeMergeFold(col("syms"), a, b))
    }
    val tok = vocab.select(col("word"),
      size(col("syms")).cast("long").as("n_tok"),
      length(col("word")).cast("long").as("n_chr"))
    docWords.join(broadcast(tok), "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_tok").as("n_tokens"),
        sum("n_chr").as("n_chars"))
      .select(col("doc_id"), col("n_words"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("n_words"), 6).as("fertility"),
        round(col("n_chars").cast("double") / col("n_tokens"), 6).as("chars_per_token"))
      .orderBy("doc_id")
  }

  private val bpeArtifactRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]


  /** Publish the trained BPE merge table as a versioned
    * [[graft.plans.SnapshotStore]] artifact (the [[ivfIndexPublish]]
    * pattern): training runs once per corpus signature, the merge list
    * commits atomically under `<root>/merges`, and serve-time tokenizers
    * load the committed version instead of re-deriving it — the artifact
    * lifecycle a tokenizer team needs (re-train publishes v2 while
    * running tokenization keeps reading v1; SnapshotStoreSpec covers the
    * atomicity, [[bpeApplyPersisted]] covers load ≡ inline). Returns the
    * artifact root. */
  def bpeTokenizerPublish(s: SparkSession, dir: String,
                          publishRoot: Option[String] = None): String = {
    import s.implicits._
    val confRoot = s.conf.getOption("spark.graft.tokenizer.root")
    val base = publishRoot.orElse(confRoot)
    val sig = documentsSignature(s, dir)
    bpeArtifactRoots.computeIfAbsent(s"$dir#$sig#${base.getOrElse("")}", _ => {
      val root = base.map(b => s"$b/bpe-$sig").getOrElse(
        java.nio.file.Files.createTempDirectory("graft-bpe-tokenizer").toString)
      val committed = // a committed artifact IS the training run
        graft.plans.SnapshotStore.latestVersion(s"$root/merges").isDefined
      if (!committed) {
        val merges = bpeFit(s, dir).toDF("step", "lhs", "rhs", "n")
        graft.plans.SnapshotStore.publish(merges, s"$root/merges", 1L)
      }
      root
    })
  }


  /** BPE tokenization FROM THE COMMITTED ARTIFACT — the serve-time half
    * of the publish/load lifecycle: the ordered merge list comes out of
    * the latest SnapshotStore version (O(k) driver rows, the same bounded
    * collect as training's argmax), then tokenizes through the SAME
    * [[bpeApplyWith]] fold as the inline path, so the output is
    * byte-identical to [[bpeApply]] by construction — which the driver
    * contract checks cross-engine (identical oracle SQL). */
  def bpeApplyPersisted(s: SparkSession, dir: String): DataFrame = {
    val root = bpeTokenizerPublish(s, dir)
    val merges = graft.plans.SnapshotStore
      .readLatest(s, s"$root/merges")
      .select(col("step"), col("lhs"), col("rhs"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
      .map(m => (m._2, m._3))
      .toSeq
    require(merges.nonEmpty, "bpeApplyPersisted: empty merge artifact")
    bpeApplyWith(s, dir, merges)
  }


  /** DuckDB twin of [[bpeTrain]]: the k merge iterations unrolled as
    * chained CTEs; the array fold rides `list_reduce` over a
    * unit-separator-encoded accumulator (symbols are [a-z]+ so chr(31)
    * can never collide). */
  /** The shared CTE chain (word frequencies + k unrolled merge
    * iterations) behind the bpe_train and bpe_apply oracles. */
  private def bpeChainSql: String = {
    val base =
      """w AS (
        |  SELECT word, count(*)::BIGINT AS freq FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
        |  WHERE regexp_matches(word, '^[a-z]+$') GROUP BY word),
        | s0 AS (SELECT word, freq,
        |   list_transform(generate_series(1, length(word)), i -> word[i]) AS syms
        |  FROM w)""".stripMargin
    val steps = (1 to BpeMerges).map { k =>
      val p = s"s${k - 1}"
      s""" p$k AS (SELECT u[1] AS a, u[2] AS b, sum(freq)::BIGINT AS n
         |   FROM $p, unnest(list_zip(list_slice(syms, 1, len(syms)-1),
         |                            list_slice(syms, 2, len(syms)))) AS z(u)
         |   GROUP BY 1, 2),
         | t$k AS (SELECT a, b, n FROM p$k ORDER BY n DESC, a, b LIMIT 1),
         | s$k AS (SELECT word, freq,
         |   string_split(list_reduce(syms, (acc, x) -> CASE
         |     WHEN string_split(acc, chr(31))[-1] = t.a AND x = t.b THEN
         |       CASE WHEN strpos(acc, chr(31)) = 0 THEN t.a || t.b
         |            ELSE left(acc, length(acc) - length(t.a)) || t.a || t.b END
         |     ELSE acc || chr(31) || x END), chr(31)) AS syms
         |  FROM $p, t$k t)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$steps"
  }

  private def bpeTrainSql: String = {
    val tail = (1 to BpeMerges)
      .map(k => s"SELECT $k AS step, a AS lhs, b AS rhs, n FROM t$k")
      .mkString("\nUNION ALL\n")
    s"""WITH $bpeChainSql
       |SELECT * FROM (
       |$tail
       |) ORDER BY step""".stripMargin
  }

  private def bpeApplySql: String =
    s"""WITH $bpeChainSql,
       | dw AS (SELECT doc_id, word FROM (
       |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
       |    FROM documents)
       |  WHERE regexp_matches(word, '^[a-z]+$$'))
       |SELECT doc_id, count(*)::BIGINT AS n_words,
       |  sum(len(syms))::BIGINT AS n_tokens,
       |  round(sum(len(syms))::DOUBLE / count(*), 6) AS fertility,
       |  round(sum(length(word))::DOUBLE / sum(len(syms)), 6) AS chars_per_token
       |FROM dw JOIN s$BpeMerges USING (word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin


  /** Unigram-LM tokenizer EM iterations / final vocab size — model
    * hyperparameters (real runs use far more; these keep the oracle's
    * unrolled CTE replay tractable while exercising the full loop). */
  private val UnigramLmIters = 3

  private val UnigramLmTopK = 30


  /** One greedy maximal-munch segmentation pass: scan the char array
    * left-to-right, fusing the pending char with the next one whenever
    * the fused pair is in the CURRENT qualifying set. Row-local, shared
    * by every EM iteration and by apply. */
  private def greedyPairFold(syms: Column, ok: Column): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(length(try_element_at(acc, lit(-1))) === 1 &&
          array_contains(ok, concat(try_element_at(acc, lit(-1)), x)),
        concat(slice(acc, lit(1), size(acc) - 1),
          array(concat(try_element_at(acc, lit(-1)), x))))
        .otherwise(concat(acc, array(x))))


  /** UNIGRAM-LM TOKENIZER TRAINING (Kudo, ACL'18 — the SentencePiece
    * algorithm family; BPE's sibling and the trainer most modern LLM
    * stacks actually use): fit a piece vocabulary by expectation-
    * maximization — segment the corpus under the current piece
    * distribution, re-estimate piece frequencies from the segmentation,
    * repeat — then prune to the target vocabulary.
    *
    * This implementation is the CROSS-ENGINE-EXACT form of hard
    * (Viterbi) EM: candidate pieces are capped at 2 chars and the E-step
    * segments greedily left-to-right, fusing a pair exactly when
    * c(ab)·N > c(a)·c(b) under the current counts — for a unigram LM
    * that inequality IS the Viterbi choice between emitting `ab` as one
    * piece vs two (p(ab) > p(a)·p(b)), evaluated in pure BIGINT
    * cross-multiplication, so every EM decision replays bit-identically
    * in the DuckDB oracle (the unrolled-CTE pattern shared with
    * `bpe_train`; a float log-likelihood would tie-break on ulps across
    * engines). At 100 TB counts the same test runs in the log domain
    * where ulp ties are statistically irrelevant.
    *
    * Scale shape, per EM iteration: the corpus is touched ONCE for word
    * frequencies (the same Heaps-bounded vocabulary trick as
    * [[bpeFit]]); segmentation is a row-local fold over the DISTINCT
    * words; counts are one shuffle over O(alphabet²) piece keys; the
    * qualifying set is an in-plan 1-row broadcast — ZERO driver-side
    * loop state, unlike BPE's per-merge argmax collect. */
  private def unigramLmFit(s: SparkSession, dir: String): (Held, DataFrame) = {
    val words = Tables.documents(s, dir)
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("syms", split(col("word"), ""))
    val wordsP = words.localCheckpoint(true)
    // iteration-0 statistics: char unigrams + adjacent-pair candidates
    val c0 = wordsP.select(col("freq"), explode(col("syms")).as("piece"))
      .groupBy("piece").agg(sum("freq").as("n"))
    val p0 = wordsP.select(col("freq"),
        explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (x, y) => concat(x, y))).as("piece"))
      .groupBy("piece").agg(sum("freq").as("n"))
    // the MLE likelihood-ratio test with N = total pieces in the model:
    // fuse ab iff c(ab)·N > c(a)·c(b) ⟺ p(ab) > p(a)·p(b)
    def qualify(cand: DataFrame, chars: DataFrame, all: DataFrame): DataFrame =
      cand
        .join(chars.select(col("piece").as("ca_p"), col("n").as("ca")),
          substring(col("piece"), 1, 1) === col("ca_p"), "left")
        .join(chars.select(col("piece").as("cb_p"), col("n").as("cb")),
          substring(col("piece"), 2, 1) === col("cb_p"), "left")
        .crossJoin(broadcast(all.agg(sum("n").as("tot"))))
        .filter(col("n") * col("tot") >
          coalesce(col("ca"), lit(0L)) * coalesce(col("cb"), lit(0L)))
        .agg(sort_array(collect_list(col("piece"))).as("ok_pieces"))
    var ok = qualify(p0, c0, c0) // seg0 = chars, so N0 = total chars
    var seg: DataFrame = null
    var counts: DataFrame = null
    var prev: Option[DataFrame] = None // the counts `ok` was qualified on
    for (t <- 1 to UnigramLmIters) {
      seg = wordsP.crossJoin(broadcast(ok))
        .withColumn("pieces", greedyPairFold(col("syms"), col("ok_pieces")))
        .select("word", "freq", "pieces")
      counts = Held(seg.select(col("freq"), explode(col("pieces")).as("piece"))
        .groupBy("piece").agg(sum("freq").as("n"))).checkpointed()
      if (t < UnigramLmIters) {
        prev.foreach(Held.release)
        prev = Some(counts)
        // re-qualify the SURVIVING pairs against the new piece model;
        // single-char counts now exclude chars hidden inside pieces (the
        // unigram-LM view: pieces are opaque) — the vocab only prunes
        ok = qualify(counts.filter(length(col("piece")) === 2),
          counts.filter(length(col("piece")) === 1), counts)
      }
    }
    (Held(seg, (wordsP +: prev.toSeq) :+ counts), counts)
  }


  /** The trained tokenizer's vocabulary: the [[UnigramLmTopK]] most
    * frequent pieces under the final EM segmentation. */
  def unigramLmTrain(s: SparkSession, dir: String): Held = {
    val (seg, counts) = unigramLmFit(s, dir)
    Held(counts.orderBy(desc("n"), asc("piece")).limit(UnigramLmTopK)
      .select("piece", "n"), seg.handles)
  }


  /** Tokenize the corpus with the trained unigram-LM pieces: per-doc
    * word/piece accounting with the fertility + compression ratios —
    * directly comparable to [[bpeApply]] on the same corpus (the
    * BPE-vs-unigram fertility comparison a tokenizer team runs before
    * picking one; LlmQualitySpec asserts the comparison). Same
    * broadcast-the-vocab shape as BPE apply: the corpus-sized frame pays
    * one broadcast join, the folds run on the Heaps-bounded vocab. */
  def unigramLmApply(s: SparkSession, dir: String): Held =
    unigramLmFit(s, dir)._1.map(unigramLmApplyWith(s, dir, _))


  /** Tokenize with an explicit per-word segmentation table — shared by
    * the inline [[unigramLmApply]] and the artifact-loading
    * [[unigramLmApplyPersisted]] (same contract as [[bpeApplyWith]]). */
  private def unigramLmApplyWith(s: SparkSession, dir: String,
                                 seg: DataFrame): DataFrame = {
    val tok = seg.select(col("word"),
      size(col("pieces")).cast("long").as("n_p"),
      length(col("word")).cast("long").as("n_c"))
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .join(broadcast(tok), "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_p").as("n_pieces"),
        sum("n_c").as("n_chars"))
      .select(col("doc_id"), col("n_words"), col("n_pieces"),
        round(col("n_pieces").cast("double") / col("n_words"), 6).as("fertility"),
        round(col("n_chars").cast("double") / col("n_pieces"), 6).as("chars_per_piece"))
      .orderBy("doc_id")
  }

  private val unigramArtifactRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]


  /** Publish the trained unigram-LM segmentation (word → pieces) as a
    * versioned SnapshotStore artifact — the [[bpeTokenizerPublish]]
    * lifecycle for the EM-trained tokenizer. */
  def unigramLmPublish(s: SparkSession, dir: String,
                       publishRoot: Option[String] = None): String = {
    val confRoot = s.conf.getOption("spark.graft.tokenizer.root")
    val base = publishRoot.orElse(confRoot)
    val sig = documentsSignature(s, dir)
    unigramArtifactRoots.computeIfAbsent(s"$dir#$sig#${base.getOrElse("")}",
      _ => {
        val root = base.map(b => s"$b/unigram-$sig").getOrElse(
          java.nio.file.Files
            .createTempDirectory("graft-unigram-tokenizer").toString)
        if (graft.plans.SnapshotStore.latestVersion(s"$root/pieces").isEmpty) {
          val seg = unigramLmFit(s, dir)._1
          try graft.plans.SnapshotStore.publish(seg.frame.select("word", "pieces"),
            s"$root/pieces", 1L)
          finally seg.release()
        }
        root
      })
  }


  /** Unigram-LM tokenization from the committed artifact — byte-identical
    * to [[unigramLmApply]] through the shared [[unigramLmApplyWith]];
    * checked cross-engine against the same oracle. */
  def unigramLmApplyPersisted(s: SparkSession, dir: String): DataFrame = {
    val root = unigramLmPublish(s, dir)
    unigramLmApplyWith(s, dir,
      graft.plans.SnapshotStore.readLatest(s, s"$root/pieces"))
  }


  /** DuckDB twin of the unigram-LM EM chain: the iterations unrolled as
    * CTEs, the greedy fold as `list_reduce` over a unit-separator
    * accumulator (the bpe oracle's chr(31) encoding), and every
    * qualifying test in the same BIGINT cross-multiplication. */
  private def unigramLmChainSql: String = {
    val base =
      """w AS (
        |  SELECT word, count(*)::BIGINT AS freq FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
        |  WHERE regexp_matches(word, '^[a-z]+$') GROUP BY word),
        | s0 AS (SELECT word, freq,
        |   list_transform(generate_series(1, length(word)), i -> word[i]) AS syms
        |  FROM w),
        | c0 AS (SELECT piece, sum(freq)::BIGINT AS n FROM (
        |     SELECT freq, unnest(syms) AS piece FROM s0) GROUP BY 1),
        | p0 AS (SELECT u[1] || u[2] AS piece, sum(freq)::BIGINT AS n
        |   FROM s0, unnest(list_zip(list_slice(syms, 1, len(syms)-1),
        |                            list_slice(syms, 2, len(syms)))) AS z(u)
        |   GROUP BY 1),
        | ok1 AS (SELECT list(p.piece ORDER BY p.piece) AS pieces
        |   FROM p0 p
        |   LEFT JOIN c0 ca ON ca.piece = substr(p.piece, 1, 1)
        |   LEFT JOIN c0 cb ON cb.piece = substr(p.piece, 2, 1),
        |     (SELECT sum(n)::BIGINT AS tot FROM c0) n0
        |   WHERE p.n * n0.tot > coalesce(ca.n, 0) * coalesce(cb.n, 0))""".stripMargin
    val steps = (1 to UnigramLmIters).map { t =>
      val okNext =
        if (t < UnigramLmIters)
          s""",
             | ok${t + 1} AS (SELECT list(p.piece ORDER BY p.piece) AS pieces
             |   FROM (SELECT * FROM c$t WHERE length(piece) = 2) p
             |   LEFT JOIN (SELECT * FROM c$t WHERE length(piece) = 1) ca
             |     ON ca.piece = substr(p.piece, 1, 1)
             |   LEFT JOIN (SELECT * FROM c$t WHERE length(piece) = 1) cb
             |     ON cb.piece = substr(p.piece, 2, 1),
             |     (SELECT sum(n)::BIGINT AS tot FROM c$t) n$t
             |   WHERE p.n * n$t.tot > coalesce(ca.n, 0) * coalesce(cb.n, 0))"""
            .stripMargin
        else ""
      s""" seg$t AS (SELECT word, freq, string_split(list_reduce(syms,
         |     (acc, x) -> CASE
         |       WHEN length(string_split(acc, chr(31))[-1]) = 1
         |        AND list_contains(ok.pieces,
         |              string_split(acc, chr(31))[-1] || x)
         |       THEN acc || x
         |       ELSE acc || chr(31) || x END), chr(31)) AS pieces
         |   FROM s0, ok$t ok),
         | c$t AS (SELECT piece, sum(freq)::BIGINT AS n FROM (
         |     SELECT freq, unnest(pieces) AS piece FROM seg$t) GROUP BY 1)"""
        .stripMargin + okNext
    }.mkString(",\n")
    s"$base,\n$steps"
  }

  private def unigramLmTrainSql: String =
    s"""WITH $unigramLmChainSql
       |SELECT piece, n FROM c$UnigramLmIters
       |ORDER BY n DESC, piece LIMIT $UnigramLmTopK""".stripMargin

  private def unigramLmApplySql: String =
    s"""WITH $unigramLmChainSql,
       | dw AS (SELECT doc_id, word FROM (
       |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
       |    FROM documents)
       |  WHERE regexp_matches(word, '^[a-z]+$$')),
       | wl AS (SELECT word, len(pieces)::BIGINT AS n_p,
       |     length(word)::BIGINT AS n_c FROM seg$UnigramLmIters)
       |SELECT doc_id, count(*)::BIGINT AS n_words,
       |  sum(n_p)::BIGINT AS n_pieces,
       |  round(sum(n_p)::DOUBLE / count(*), 6) AS fertility,
       |  round(sum(n_c)::DOUBLE / sum(n_p), 6) AS chars_per_piece
       |FROM dw JOIN wl USING (word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  def tokenBpe(s: SparkSession, dir: String): DataFrame = {
    val pat = "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s']+|\\s+"
    Tables.documents(s, dir)
      .select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit(pat), lit(0)).as("bpe"),
        filter(split(col("text"), "\\s+"), t => length(t) > 0).as("ws"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_ws"),
        size(col("bpe")).cast("long").as("n_bpe"),
        md5(concat_ws("|", col("bpe"))).as("bpe_md5"))
      .orderBy("doc_id")
  }


  /** Language-ID by marker-token scoring (n-gram heuristic family):
    * count stopword hits per language, argmax with fixed tie order. */
  def langidMarkers(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .selectExpr("doc_id",
        "size(filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'is'))) AS s_en",
        "size(filter(toks, x -> x IN ('el', 'la', 'de', 'y', 'es'))) AS s_es",
        "size(filter(toks, x -> x IN ('der', 'die', 'das', 'und', 'ist'))) AS s_de",
        "size(filter(toks, x -> x IN ('le', 'un', 'et', 'est', 'les'))) AS s_fr")
      .selectExpr("doc_id", "s_en", "s_es", "s_de", "s_fr",
        """CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
          |     WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
          |     WHEN s_de >= s_fr THEN 'de'
          |     ELSE 'fr' END AS pred_lang""".stripMargin)
      .orderBy("doc_id")


  /** Document fingerprint: md5 over the 3 smallest shingle hashes (k-min
    * sketch — winnowing-style stable fingerprint). */
  def docFingerprint(s: SparkSession, dir: String): DataFrame =
    shingles(s, dir)
      .groupBy("doc_id")
      .agg(md5(concat_ws("", slice(array_sort(collect_list(md5(col("s")))), 1, 3)))
        .as("fingerprint"))
      .orderBy("doc_id")


  /** Winnowing fingerprint (TRUE rolling hash — functions.TextWinnow
    * native expression): 8-char-gram Rabin-Karp polynomial hash, window-4
    * minima, sorted distinct. Row-local, codegen'd, no shuffle except the
    * final sort; the oracle replays the identical polynomial with exact
    * modular power constants. */
  def docWinnow(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.textWinnow
    Tables.documents(s, dir)
      .select(col("doc_id"), textWinnow(col("text"), 8, 4).as("fp"))
      .select(col("doc_id"),
        size(col("fp")).cast("long").as("n_fp"),
        md5(concat_ws(",", transform(col("fp"), x => x.cast("string")))).as("fp_md5"))
      .orderBy("doc_id")
  }


  /** Corpus profile per (lang, source). */
  def langProfile(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        round(avg("n_chars"), 2).as("avg_chars"))
      .orderBy("lang", "source")


  /** DuckDB oracle SQL for this family's contract queries. */
  protected val textOracles: Map[String, String] = Map(
    "token_bpe" ->
      """WITH t AS (SELECT doc_id,
        |   regexp_extract_all(lower(text),
        |     '''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s'']+|\s+') AS bpe,
        |   list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0) AS ws
        | FROM documents)
        |SELECT doc_id, len(ws)::BIGINT AS n_ws, len(bpe)::BIGINT AS n_bpe,
        | md5(array_to_string(bpe, '|')) AS bpe_md5
        |FROM t ORDER BY doc_id""".stripMargin,
    "bpe_train" -> bpeTrainSql,
    "unigram_lm_train" -> unigramLmTrainSql,
    "unigram_lm_apply" -> unigramLmApplySql,
    "unigram_lm_apply_persisted" -> unigramLmApplySql,
    "bpe_apply" -> bpeApplySql,
    // the persisted path is byte-identical to the inline path BY CONTRACT,
    // so it faces the very same oracle,
    // the persisted path is byte-identical to the inline path BY CONTRACT,
    // so it faces the very same oracle
    "bpe_apply_persisted" -> bpeApplySql,
    "langid_markers" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        | sc AS (SELECT doc_id,
        |   len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'is'))) AS s_en,
        |   len(list_filter(toks, x -> x IN ('el', 'la', 'de', 'y', 'es'))) AS s_es,
        |   len(list_filter(toks, x -> x IN ('der', 'die', 'das', 'und', 'ist'))) AS s_de,
        |   len(list_filter(toks, x -> x IN ('le', 'un', 'et', 'est', 'les'))) AS s_fr
        |  FROM t)
        |SELECT doc_id, s_en, s_es, s_de, s_fr,
        | CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
        |      WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
        |      WHEN s_de >= s_fr THEN 'de'
        |      ELSE 'fr' END AS pred_lang
        |FROM sc ORDER BY doc_id""".stripMargin,
    "doc_fingerprint" ->
      s"""WITH $shinglesSql,
        | hs AS (SELECT doc_id, md5(s) AS h FROM sh)
        |SELECT doc_id,
        | md5(array_to_string(list_sort(list(h))[1:3], '')) AS fingerprint
        |FROM hs GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "doc_winnow" ->
      // exact modular powers 257^(7-j) mod 2^31-1 (floating pow would lose
      // precision past 2^53); per-gram hash = Σ c_j·p_j mod P — the same
      // residue the engine's rolling recurrence produces
      """WITH pw AS (SELECT [623063367, 336663071, 168429323, 67503107,
        |                   16974593, 66049, 257, 1] AS p),
        | g AS (SELECT doc_id, CASE WHEN length(text) >= 8 THEN
        |     list_transform(generate_series(1, length(text) - 7),
        |       i -> list_aggregate(list_transform(generate_series(0, 7),
        |              j -> CAST(ord(substr(text, i + j, 1)) AS BIGINT) * p[j + 1]
        |                   % 2147483647), 'sum') % 2147483647)
        |   ELSE [] END AS hashes FROM documents, pw),
        | wn AS (SELECT doc_id, CASE
        |     WHEN len(hashes) = 0 THEN []
        |     WHEN len(hashes) < 4 THEN [list_min(hashes)]
        |     ELSE list_sort(list_distinct(list_transform(
        |       generate_series(1, len(hashes) - 3), i -> list_min(hashes[i:i+3]))))
        |   END AS fp FROM g)
        |SELECT doc_id, len(fp)::BIGINT AS n_fp,
        | md5(array_to_string(fp, ',')) AS fp_md5
        |FROM wn ORDER BY doc_id""".stripMargin,
    "lang_profile" ->
      """SELECT lang, source, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
        | round(avg(n_chars), 2) AS avg_chars
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin)
}
