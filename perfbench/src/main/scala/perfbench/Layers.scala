package perfbench

/** Per-layer metrics from the traced run's spans. A layer's time is the
  * summed wall time of its spans, children included: Spark is lazy, so a
  * span holds the work its call forced, which may have been defined by an
  * earlier call in another layer. Every layer is reported on every
  * workload; one a workload never calls reads 0. */
object Layers {
  private val corpusOps = new CorpusWorkload(0).steps

  def of(spans: Seq[Span]): Map[String, (Double, String)] = {
    def secs(name: String) = spans.filter(_.name == name).map(_.secs).sum
    def jobs(name: String) =
      spans.filter(_.name == name).map(_.work.jobs).sum.toDouble
    def timeAndJobs(name: String, jobsName: String) =
      Seq(s"${name}_s" -> (secs(name), "s"), jobsName -> (jobs(name), "count"))
    (Seq("config.validate", "io.read", "io.savepoint", "features.prep_fit",
      "train.fit", "score.transform", "metrics.evaluate", "metrics.confusion",
      "publish.save").flatMap(n => timeAndJobs(n, s"${n}_jobs")) ++
      timeAndJobs("sampling.sample", "sampling.jobs") ++
      corpusOps.flatMap(op => timeAndJobs(s"queries.$op", s"queries.${op}_jobs"))).toMap
  }
}
