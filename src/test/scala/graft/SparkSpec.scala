package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for specs — one JVM-wide session (getOrCreate)
  * so suites don't pay startup per class. */
trait SparkSpec extends AnyFlatSpec with Matchers {
  lazy val spark: SparkSession = SparkSpec.session
  import scala.language.implicitConversions
}

object SparkSpec {
  /** The production session configuration (Kryo, broadcast threshold,
    * timestamp inference, graft functions) on 4 local cores. */
  lazy val session: SparkSession = GraftSession.local(4, "graft-test")
}
