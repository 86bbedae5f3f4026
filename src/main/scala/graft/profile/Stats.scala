package graft.profile

/** Order-independent moments.
  *
  * Double-precision `avg`/`stddev_samp` depend on partial-aggregation
  * order, so the same data at different partition counts yields bounds
  * that differ by ±ulp — enough to flip a borderline z-score flag and
  * break run-to-run determinism (a hard requirement: verdicts must be
  * identical at N and 4N executors). Summing as DECIMAL is exact and
  * therefore order-independent; mean/std are derived driver-side from
  * the exact (n, Σx, Σx²) a caller aggregates (pass 2's stats fetch).
  */
object Stats {

  final case class Moments(n: Long, mean: Double, stddevSamp: Double)

  def fromSums(n: Long, s: java.math.BigDecimal, s2: java.math.BigDecimal): Moments = {
    // sum() over zero rows yields null — a per-day Checkpointer slice where
    // pass 1 dropped everything must commit an empty partition, not NPE
    if (n == 0 || s == null || s2 == null) return Moments(0, Double.NaN, Double.NaN)
    val mean = s.doubleValue() / n
    val variance =
      if (n < 2) Double.NaN
      else {
        val sd = s.doubleValue()
        (s2.doubleValue() - sd * sd / n) / (n - 1)
      }
    Moments(n, mean, math.sqrt(math.max(0.0, variance)))
  }
}
