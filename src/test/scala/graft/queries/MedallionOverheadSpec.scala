package graft.queries

import graft.SparkSuite

/** Pins the versioned-medallion overhead CONTRACT in a spec instead of
  * re-deriving it from bench JSON each round: q41 (the flagship
  * medallion through VersionedTable commits — manifest I/O, CAS
  * publishes, incremental pipe checkpoints) must stay within 1.5× of
  * q35 (the same derivations through plain parquet writes), measured
  * warmed and in-JVM (the `graft.Dev prof` discipline — wall-clock
  * noise on this host is ±2×, so each side takes min-of-reps after a
  * warmup run).
  * Measured headroom is wide (the two are near-equal at this SF: the
  * format's overhead is metadata-bounded and amortizes), so a red here
  * means manifest handling genuinely regressed, not host weather.
  */
class MedallionOverheadSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"
  private val MaxRatio = 1.5

  private def minSeconds(name: String, reps: Int): Double = {
    graft.Bench.warm(spark, sfDir, Seq(name))
    Seq.fill(reps)(graft.Bench.timeOnce(spark, name, sfDir)).min
  }

  test(s"versioned medallion (q41) stays within ${MaxRatio}x of parquet medallion (q35)") {
    val parquet = minSeconds("q35_medallion_e2e", reps = 2)
    val versioned = minSeconds("q41_medallion_versioned", reps = 2)
    val ratio = versioned / parquet
    info(f"q35=$parquet%.2fs q41=$versioned%.2fs ratio=$ratio%.2f (contract <= $MaxRatio)")
    assert(ratio <= MaxRatio,
      f"versioned medallion overhead $ratio%.2fx exceeds the $MaxRatio contract " +
        f"(q35=$parquet%.2fs, q41=$versioned%.2fs) — manifest handling regressed")
  }
}
