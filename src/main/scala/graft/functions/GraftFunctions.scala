package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.functions.{call_function, conv, lit, lower, md5, substring, trim}

/** Registration of the graft native expressions as SQL functions through
  * the public `SparkSessionExtensions` hook (wired by `GraftSession` via
  * `SparkSession.builder.withExtensions`), plus typed Column wrappers so
  * DataFrame code reads like `functions._`.
  *
  * Going through the function registry (rather than constructing Columns
  * from raw expressions) keeps everything on public API and makes the
  * functions available to ad-hoc SQL (`SELECT vec_dot(a, b) ...`) — the
  * reference's config-driven SQL view chains can call them directly.
  */
object GraftFunctions {

  private def one(name: String, build: Seq[Expression] => Expression) =
    (new FunctionIdentifier(name),
      new ExpressionInfo(classOf[VectorExpressions.type].getName, name),
      build)

  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal INT argument, got $other")
  }

  /** Injects all graft functions; called from
    * `SparkSession.builder.withExtensions(GraftFunctions.register)`. */
  def register(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(one("vec_norm", args => VecNorm(args.head)))
    ext.injectFunction(one("vec_l2", args => VecL2(args.head)))
    ext.injectFunction(one("vec_dot", args => VecDot(args(0), args(1))))
    ext.injectFunction(one("vec_sig", args =>
      VecSig(args(0), intArg(args(1), "vec_sig"), intArg(args(2), "vec_sig"),
        if (args.length > 3) intArg(args(3), "vec_sig") else 0)))
    ext.injectFunction(one("text_winnow", args =>
      TextWinnow(args(0), intArg(args(1), "text_winnow"),
        intArg(args(2), "text_winnow"))))
    ext.injectFunction(one("byte_fold", args =>
      ByteFold(args(0), intArg(args(1), "byte_fold"))))
  }

  // ---- typed Column wrappers (resolve through the session registry) ----

  /** float-vector column → L2-normalized double-vector. */
  def vecNorm(v: Column): Column = call_function("vec_norm", v)

  /** float-vector column → L2 norm. */
  def vecL2(v: Column): Column = call_function("vec_l2", v)

  /** dot product of two double-vector columns. */
  def vecDot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** sign-projection LSH signature of a float-vector column; `offset`
    * selects an independent plane family (band) from the md5 digits. */
  def vecSig(v: Column, planes: Int, dims: Int, offset: Int = 0): Column =
    call_function("vec_sig", v, lit(planes), lit(dims), lit(offset))

  /** winnowing rolling-hash fingerprint of a string column. */
  def textWinnow(s: Column, k: Int, w: Int): Column =
    call_function("text_winnow", s, lit(k), lit(w))

  /** strided byte-sum feature vector of a binary column (one pass). */
  def byteFold(b: Column, bins: Int): Column =
    call_function("byte_fold", b, lit(bins))

  /** Deterministic uniform-[0,1) coin from a column's md5 (first 8 hex
    * digits / 2³²) — the reproducible, partition-independent Bernoulli
    * every sampling/split operator uses, replayable in any engine.
    * DuckDB twin: `('0x' || substr(md5(x::VARCHAR), 1, 8))::BIGINT
    * / 4294967296.0`. ONE definition — the coin and its oracle twin
    * must never drift per call site. */
  def md5Coin(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10)
      .cast("double") / 4294967296.0

  /** [[md5Coin]] scaled to [0,100) with the (h·100)/2³² evaluation
    * order the percent-threshold oracles replay (NOT (h/2³²)·100 —
    * the FP rounding differs in the last bit). */
  def md5CoinPct(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10)
      .cast("double") * 100.0 / 4294967296.0

  /** Exact-duplicate key of a text column: `md5(lower(trim(text)))`. ONE
    * definition shared by the batch dedup steps and the streaming dedup,
    * so the two can never disagree on what a duplicate is. DuckDB twin:
    * the same expression. */
  def textDedupKey(text: Column): Column = md5(lower(trim(text)))
}
