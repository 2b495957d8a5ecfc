package perfbench

import org.json4s.{DefaultFormats, Extraction}
import org.json4s.jackson.JsonMethods

/** Compact JSON text of a record built from maps, sequences, case classes
  * and scalars (json4s, which Spark ships).
  */
object Json {
  def apply(v: Any): String =
    JsonMethods.compact(Extraction.decompose(v)(DefaultFormats))
}
