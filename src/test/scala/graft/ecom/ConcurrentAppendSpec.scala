package graft.ecom

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

import graft.SparkSuite

/** Concurrent optimistic-concurrency stress: several threads appending
  * to the SAME table must all land, with no commit lost and no version
  * skipped — the property the hard-link publish primitive exists for on
  * local filesystems, where a rename-based publish would silently
  * clobber a racing writer's manifest (POSIX rename(2) overwrites; the
  * race is real, not theoretical: this spec ran red under rename).
  */
class ConcurrentAppendSpec extends SparkSuite {
  import spark.implicits._

  test("racing appenders: every commit lands, versions are dense, no rows lost") {
    val vt = VersionedTable(spark,
      tempDir("graft-vtconc"))
    val threads = 3
    val perThread = 4
    // thread t appends batches of ids [t*1000 + k*100, +10)
    val fs = (0 until threads).map { t =>
      Future {
        (0 until perThread).map { k =>
          val lo = t * 1000L + k * 100L
          vt.commitAppend((lo until lo + 10L).toDF("id"))
        }
      }
    }
    val landed = Await.result(Future.sequence(fs), 300.seconds).flatten
    val n = threads * perThread
    // every commit got a DISTINCT version and none was overwritten
    assert(landed.sorted == (1L to n.toLong), s"versions landed: ${landed.sorted}")
    assert(vt.versions() == (1L to n.toLong))
    // the head snapshot holds every appended row exactly once
    val want = (for (t <- 0 until threads; k <- 0 until perThread;
      i <- 0 until 10) yield t * 1000L + k * 100L + i).sorted
    assert(vt.read().as[Long].collect().sorted.toSeq == want)
    // each intermediate version carries exactly v*10 rows (append-only)
    assert(vt.readAt(5L).count() == 50L)
    assert(vt.history().map(_.op).distinct == Seq("append"))
  }
}
