package graft.ecom

import org.apache.spark.sql.functions.col

import graft.SparkSuite

/** Pins the incremental-manifest log's scale contract (the round-9
  * verdict's protocol item): under high-frequency streaming appends the
  * cumulative log must grow like O(changes) with periodic checkpoints —
  * NOT like the O(files²) a self-contained-manifest-per-commit design
  * costs — while every reader-visible behavior (snapshot, time travel,
  * markers, vacuum) is unchanged.
  */
class VersionedLogGrowthSpec extends SparkSuite {

  private val N = 1000

  test(s"$N micro-batch appends: delta manifests keep the log subquadratic") {
    val dir = tempDir("graft-loggrowth")
    val vt = VersionedTable(spark, dir)
    (0 until N).foreach { i =>
      vt.commitAppendBatch(spark.range(i, i + 1L).toDF("id"), i.toLong)
    }
    // correctness first: the resolved head and a mid-chain time travel
    assert(vt.currentVersion().contains(N.toLong))
    assert(vt.read().count() == N.toLong)
    assert(vt.readAt(N - 7L).count() == N - 7L, "mid-chain delta resolution")
    assert(vt.currentBatchId().contains(N - 1L), "marker survives delta encoding")

    val logDir = new java.io.File(s"$dir/_graft_log")
    val sizes = logDir.listFiles().map(f => f.getName -> f.length()).toMap
    def manifest(v: Long) = f"v$v%08d.manifest"
    val totalLog = sizes.values.sum
    val largestFull = sizes.max(Ordering.by[(String, Long), Long](_._2))._2

    // a non-checkpoint manifest is O(changed files), not O(files): the
    // 999th append's manifest must be no bigger than the 101st's plus
    // jitter, and absolutely small
    val interval = VersionedTable.CheckpointInterval
    val lateDelta = sizes(manifest(N - 1L))
    val earlyDelta = sizes(manifest(101L))
    assert((N - 1) % interval != 0 && 101 % interval != 0, "chose non-checkpoint versions")
    assert(lateDelta < 4096, s"delta manifest grew with the table: $lateDelta bytes")
    assert(lateDelta <= earlyDelta * 2,
      s"delta manifests must not scale with file count: v101=$earlyDelta vs v${N - 1}=$lateDelta")

    // cumulative: self-contained manifests would cost ~N/2 x the head's
    // full size; deltas + every-interval checkpoints must come in far
    // under it (measured here at N=1000: 390-byte deltas, 234 KB full
    // head — ~6 MB cumulative vs ~117 MB self-contained)
    val selfContainedEstimate = largestFull * N.toLong / 2
    assert(totalLog < selfContainedEstimate / 8,
      s"log grew $totalLog bytes; self-contained ~$selfContainedEstimate — " +
        "delta encoding is not engaging")

    // vacuum at a NON-checkpoint horizon: the oldest kept version's
    // chain crosses the deleted prefix, so vacuum must publish its
    // .ckpt sidecar before deleting — reads stay whole after
    val keep = 5
    assert((N - keep + 1) % interval != 0, "horizon must sit mid-chain for this pin")
    vt.vacuum(keepVersions = keep, unreferencedGraceMs = 0L)
    assert(vt.versions() == ((N - keep + 1L) to N.toLong))
    assert(vt.read().count() == N.toLong)
    assert(vt.readAt(N - keep + 1L).count() == N - keep + 1L,
      "oldest retained version resolves via its vacuum checkpoint")
    intercept[IllegalArgumentException] { vt.readAt(N - keep.toLong) }
  }

  test("delta log composes with COW delete, DV, restore, and a racing reader") {
    val dir = tempDir("graft-loggrowth2")
    val vt = VersionedTable(spark, dir)
    vt.commitOverwrite(spark.range(0, 40).toDF("id").repartition(4))
    (0 until 6).foreach(i => vt.commitAppend(spark.range(40 + i * 5L, 45 + i * 5L).toDF("id")))
    val pinned = vt.read() // reader holding the pre-mutation snapshot
    vt.delete(col("id") < 3L)      // COW rewrite rides the delta log
    vt.deleteMoR(col("id") === 10L) // DV sidecar add is a delta action
    assert(vt.read().count() == 70 - 3 - 1)
    assert(pinned.count() == 70, "pinned snapshot unaffected by delta-logged mutations")
    val head = vt.currentVersion().get
    vt.restore(head - 1) // restore publishes against the delta chain
    assert(vt.read().count() == 70 - 3, "restore target: post-delete, pre-DV")
  }
}
