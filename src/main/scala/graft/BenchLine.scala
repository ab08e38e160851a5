package graft

/** The one place that knows the bench line format.
  *
  * Bench hands over one [[Result]] per timed query; [[render]] builds
  * both lines from them:
  *
  *   - the FULL line — `value` (sum of per-query medians), `total_min`
  *     (sum of per-query minima), the per-query `queries` medians and
  *     `spread` min/med/max. Bench prints it and appends it to the
  *     bench ledger, so per-query history stays reviewable.
  *   - the COMPACT line — the same head and tail with `n_queries` in
  *     place of the per-query maps, bounded in length. Bench prints it
  *     as the very last stdout line: the driver keeps only a short
  *     stdout tail, and the full line's 113-entry maps push the total
  *     out of it.
  *
  * Both carry `failed` (query → reps that threw) when any rep threw: a
  * failed rep's elapsed is time-to-fail, not a measurement, and the
  * line must say so rather than report it as a plausible median. Both
  * carry `only` on a SPARK_GRAFT_BENCH_ONLY subset run, so a subset
  * line can't be mistaken for a full pass: the selected names in the
  * full line, `true` in the compact one (a name list would unbound it;
  * `n_queries` gives the count).
  */
object BenchLine {

  def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** One query's timed reps (seconds, in rep order); `failed` counts
    * the reps that threw — their elapsed time stays in `samples`. */
  final case class Result(name: String, samples: Seq[Double], failed: Int)

  /** JSON string literal: quote, backslash and every control char
    * (< 0x20) escaped. The one escaper of the bench line and Verify's
    * JSON files. In the bench line `sf` is the one raw external string;
    * query names are registry keys ([A-Za-z0-9_]+) and the fixture
    * fingerprint is hex, so neither needs escaping. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def r4(x: Double): Double = math.rint(x * 1e4) / 1e4

  /** The full line, or with `compact` the bounded summary line.
    * `subset` marks a SPARK_GRAFT_BENCH_ONLY run. */
  def render(results: Seq[Result], fixtures: String, reps: Int, ts: Long,
             sf: String, subset: Boolean, compact: Boolean): String = {
    val total = results.map(r => median(r.samples)).sum
    val totalMin = results.map(_.samples.min).sum
    val failed = results.filter(_.failed > 0)
      .map(r => s""""${r.name}":${r.failed}""")
    val failedField =
      if (failed.isEmpty) "" else failed.mkString(""","failed":{""", ",", "}")
    val body =
      if (compact) s""","n_queries":${results.size}"""
      else {
        val qs = results.map(r => s""""${r.name}":${median(r.samples)}""")
          .mkString("{", ",", "}")
        val spread = results.map { r =>
          s""""${r.name}":{"min":${r4(r.samples.min)},"med":${r4(median(r.samples))},"max":${r4(r.samples.max)}}"""
        }.mkString("{", ",", "}")
        s""","queries":$qs,"spread":$spread"""
      }
    val onlyField =
      if (!subset) ""
      else if (compact) ""","only":true"""
      else s""","only":"${results.map(_.name).mkString(",")}""""
    val value = if (compact) r4(total) else total
    val tail = if (compact) ""","compact":true""" else ""
    s"""{"metric":"total","value":$value,"unit":"sec","total_min":${r4(totalMin)}$failedField$body,"fixtures":"$fixtures","reps":$reps,"ts":$ts,"sf":${jsonString(sf)}$onlyField$tail}"""
  }
}
