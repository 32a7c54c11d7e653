package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Output values pinned per (workload, seed) in `pins.json`, and the
  * comparison the checks use. Doubles from Spark's aggregations can differ
  * in the last bits with task completion order, hence the tolerance. */
object Pins {
  val tolerance = 1e-9

  def load(path: String, workload: String, seed: Long): Option[Outputs.T] =
    JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")) \ workload \ seed.toString match {
      case JObject(kvs) => Some(kvs.collect { case (k, JDouble(v)) => k -> v
                                              case (k, JInt(v)) => k -> v.toDouble }.toMap)
      case _ => None
    }

  def check(pins: Option[Outputs.T], out: Outputs.T): Seq[String] =
    pins.toSeq.flatMap(diff("differs from the pinned value", _, out))

  /** Keys of `ref` whose value `out` lacks or misses by more than the
    * tolerance. */
  def diff(what: String, ref: Outputs.T, out: Outputs.T): Seq[String] =
    ref.keySet.toSeq.sorted.flatMap { k =>
      (ref.get(k), out.get(k)) match {
        case (Some(a), Some(b)) if math.abs(a - b) <= tolerance * math.max(1.0, math.abs(a)) => None
        case (a, b) => Some(s"$k $what: expected ${a.getOrElse("none")}, got ${b.getOrElse("none")}")
      }
    }
}
