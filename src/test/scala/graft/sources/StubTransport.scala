package graft.sources

/** Deterministic in-JVM stand-in for the POS API: answers every
  * request with a well-formed envelope whose payload derives from the
  * request coordinates. Specs wire it in where a deployment wires
  * [[HttpTransport]]: a stable fixture for the worklist → fetch →
  * decode path.
  */
final class StubTransport extends EnvelopeTransport {
  override def fetchPartition(requests: Iterator[FetchRequest]): Iterator[String] =
    requests.map { r =>
      val day = r.date.toEpochDay
      // one record per request, id/k derived from the coordinates;
      // every 50th store answers with a non-OK code like the real
      // API's error envelopes (load_sales_data.py:97-99 gate)
      val code = if (r.storeId % 50 == 0) "9999" else "0000"
      s"""{"ret_code":"$code","data":[{"id":${r.storeId * 100000 + day},"k":${day % 7}}]}"""
    }
}
