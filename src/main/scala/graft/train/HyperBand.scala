package graft.train

import graft.config.TuningConf
import org.apache.spark.internal.Logging
import org.apache.spark.ml.{Estimator, Transformer}
import org.apache.spark.ml.param.{IntParam, LongParam, ParamMap}
import org.apache.spark.sql.DataFrame

/** HyperBand tuning: successive-halving bandit over random param configs
  * (Li et al., "Hyperband: A Novel Bandit-Based Approach to Hyperparameter
  * Optimization", arXiv:1603.06560 — the same public algorithm the
  * reference implements in org/apache/spark/ml/tuning/HyperBand.scala:99-260;
  * reference defaults maxHyperbandIter=81, eta=3, iterationMultiplier=20,
  * trainSize=0.8).
  *
  * Resource = `maxIter` when the estimator has it (iteration-controlled
  * algorithms), else the training-data fraction. Pure driver-side control
  * loop around distributed `fit` calls — no custom Catalyst work.
  */
object HyperBand extends Logging {

  /** For OVR the tuned params live on the INNER classifier; its copy(pm)
    * propagates them at fit time (same convention as ModelFactory.grid). */
  private def tuningTarget(p: org.apache.spark.ml.param.Params)
      : org.apache.spark.ml.param.Params = p match {
    case ovr: OneVsRestScored => ovr.getClassifier
    case e => e
  }

  /** Sample a random config: each grid entry [lo, hi] (or a discrete list
    * of >2 values) sampled uniformly, int-cast for int params. */
  private def randomConfig(est: Estimator[_], space: Map[String, Seq[Double]],
                           rnd: scala.util.Random): ParamMap = {
    val pm = ParamMap.empty
    space.foreach { case (name, values) =>
      val param: org.apache.spark.ml.param.Param[_] = tuningTarget(est).getParam(name)
      val v: Double =
        if (values.size == 2) values.head + rnd.nextDouble() * (values(1) - values.head)
        else values(rnd.nextInt(values.size))
      param match {
        case p: IntParam => pm.put(p, v.toInt)
        case p: LongParam => pm.put(p, v.toLong)
        case p => pm.put(p.asInstanceOf[org.apache.spark.ml.param.Param[Any]], v)
      }
    }
    pm
  }

  private val trainSize = 0.8

  def fit(df: DataFrame, est: Estimator[_], tuning: TuningConf, seed: Long): Transformer = {
    val iterationMultiplier = tuning.iterationMultiplier
    val finalMaxIter = tuning.finalMaxIter
    require(tuning.grid.nonEmpty, "hyperband requires a non-empty tuning.grid search space")
    val rnd = new scala.util.Random(seed)
    val eta = tuning.eta.toDouble
    val maxR = tuning.maxHyperbandIter.toDouble
    val sMax = (math.log(maxR) / math.log(eta)).toInt
    val b = (sMax + 1) * maxR
    val eval = CrossValidatorCustom.evaluator(tuning.evalMetric)
    val hasMaxIter = tuningTarget(est).params.exists(_.name == "maxIter")
    // each est.copy has its OWN inner classifier (OneVsRestScored.copy
    // deep-copies it), so setting maxIter on the copy's target is safe
    def setMaxIter(e: Estimator[_], v: Int): Unit = {
      val t = tuningTarget(e)
      t.set(t.getParam("maxIter"), v)
    }

    val Array(train, valid) = df.randomSplit(Array(trainSize, 1 - trainSize), seed)
    train.cache(); valid.cache()
    try {
      var best: Option[(ParamMap, Double)] = None
      for (s <- sMax to 0 by -1) {
        val n = math.ceil(b / maxR * math.pow(eta, s) / (s + 1)).toInt
        val r = maxR * math.pow(eta, -s)
        var configs = Array.fill(n)(randomConfig(est, tuning.grid, rnd))
        for (i <- 0 to s if configs.nonEmpty) {
          val ri = r * math.pow(eta, i)
          val scored = configs.map { pm =>
            val e = est.copy(pm)
            if (hasMaxIter)
              setMaxIter(e, math.max(1, (ri * iterationMultiplier / maxR).toInt))
            val fitted =
              (if (hasMaxIter) e.fit(train)
               else e.fit(train.sample(withReplacement = false, (ri / maxR).min(1.0), seed)))
                .asInstanceOf[Transformer]
            val m = eval.evaluate(fitted.transform(valid))
            (pm, m)
          }
          val keep = math.max(1, (configs.length / eta).toInt)
          val ranked = scored.sortBy(x => if (eval.isLargerBetter) -x._2 else x._2)
          logInfo(s"hyperband bracket=$s round=$i r=$ri " +
            s"best=${ranked.head._2} kept=$keep/${configs.length}")
          ranked.headOption.foreach { h =>
            if (best.forall(bb => if (eval.isLargerBetter) h._2 > bb._2 else h._2 < bb._2))
              best = Some(h)
          }
          configs = ranked.take(keep).map(_._1)
        }
      }
      val (bestPm, bestMetric) = best.get
      logInfo(s"hyperband best=$bestPm metric=$bestMetric — final fit")
      val e = est.copy(bestPm)
      if (hasMaxIter) setMaxIter(e, finalMaxIter)
      e.fit(df).asInstanceOf[Transformer]
    } finally { train.unpersist(); valid.unpersist() }
  }
}
