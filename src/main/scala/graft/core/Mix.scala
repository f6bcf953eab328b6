package graft.core

/** Shared deterministic numeric kernels — ONE definition each, because
  * the determinism contracts built on them (replay-exact sampling,
  * byte-reproducible training) silently break if two copies ever
  * drift (review-consolidated from five `mix` and three `lse` copies).
  */
object Mix {

  /** 64-bit SplitMix step — the engine's deterministic randomness
    * source (no java.util.Random: cross-JVM stable). Used by the
    * synthetic fixtures (TokenizerTrain/MicroBench), the subword samplers
    * (UnigramSample, BpeDropout) and their per-piece decorrelation. */
  @inline def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Stable log-sum-exp of two log-space values (NEGATIVE_INFINITY =
    * empty) — the lattice accumulator the unigram EM, sampler and
    * expectation DPs share. */
  @inline def lse(a: Double, b: Double): Double =
    if (a == Double.NegativeInfinity) b
    else if (b == Double.NegativeInfinity) a
    else if (a > b) a + math.log1p(math.exp(b - a))
    else b + math.log1p(math.exp(a - b))
}
