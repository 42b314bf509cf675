package graft.query

import org.apache.spark.sql.DataFrame

/** S10 — the STREAMING response surface (SURVEY.md §2.1 S10; the
  * reference streams query results as one incrementally-flushed JSON
  * array: streamJson /root/reference/src/Kupo/App/Http.hs and the chunked
  * encoder in Kupo.Data.Http.Response, so a million-row result never
  * materializes server-side).
  *
  * The Spark analogue of "chunked transfer from a DB cursor" is
  * `toLocalIterator`: the plan executes ONE PARTITION PER JOB, launched
  * lazily as the consumer advances, so the driver holds O(one partition)
  * of rows at any moment — never O(result). Upstream exchanges (the sort
  * shuffle of F6) run once and are reused across the per-partition jobs,
  * so the incremental fetch costs one extra job-floor per partition, not
  * a re-execution. A small [[FoldInputs]] result (tx-keyed, or address/
  * policy-windowed over few rows) is sorted in a single partition and
  * resolves its checkpoints and spend marks by driver lookups, so it has
  * no sort shuffle and no broadcast and fetches in ONE job. The
  * rows themselves are [[FoldInputs.asJson]] — the
  * byte-exact resultToJson mirror — so this shim composes the existing
  * encoder with the fetch discipline; an HTTP layer would write each
  * string to the chunked response stream as it arrives. */
object ResponseStream {

  /** Lazy iterator of the result's JSON objects (one string per row).
    * Pulls one partition at a time; safe for results far larger than
    * driver memory. */
  def jsonRows(result: DataFrame, stringQuantities: Boolean = false,
               inlineAll: Boolean = false): Iterator[String] = {
    import scala.jdk.CollectionConverters._
    FoldInputs.asJson(result, stringQuantities, inlineAll)
      .toLocalIterator().asScala.map(_.getString(0))
  }

  /** Stream the full JSON-array response to `out` — the exact shape the
    * reference's HTTP layer emits — in constant driver memory. Returns
    * the row count written. */
  def writeJsonArray(result: DataFrame, out: java.io.Writer,
                     stringQuantities: Boolean = false,
                     inlineAll: Boolean = false): Long = {
    var n = 0L
    out.write("[")
    jsonRows(result, stringQuantities, inlineAll).foreach { row =>
      if (n > 0) out.write(",")
      out.write(row)
      n += 1
    }
    out.write("]")
    n
  }
}
