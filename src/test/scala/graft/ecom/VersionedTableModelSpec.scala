package graft.ecom

import graft.SparkSuite

/** Model-based randomized check of the versioned table format: a seeded
  * random sequence of overwrite / append / vacuum / copy-on-write
  * delete / merge-on-read delete / purge / optimize operations runs
  * against both the real table and a
  * trivial in-memory model (a vector of id-multisets, one per version).
  * After EVERY op the live read must match the model head, and at the
  * end every retained version must replay its model snapshot while
  * every vacuumed one must refuse — the whole commit/carry-forward/
  * rewrite/vacuum state machine, not just the hand-picked paths of
  * VersionedTableSpec and VersionedCowSpec.
  */
class VersionedTableModelSpec extends SparkSuite {
  import spark.implicits._

  private def readIds(vt: VersionedTable): Seq[Long] =
    vt.read().as[Long].collect().sorted.toSeq

  test("random op sequences agree with the in-memory model at every step") {
    for (seed <- Seq(11, 23, 47)) {
      val rnd = new scala.util.Random(seed)
      val vt = VersionedTable(spark,
        tempDir(s"graft-vtmodel-$seed"))
      // model(v-1) = the sorted id sequence version v must replay
      var model = Vector.empty[Seq[Long]]
      var vacuumedBelow = 0 // versions <= this are gone
      var nextId = 0L
      def freshRows(): Seq[Long] = {
        val n = 1 + rnd.nextInt(40)
        val rows = (nextId until nextId + n)
        nextId += n
        rows
      }
      (0 until 14).foreach { _ =>
        rnd.nextInt(9) match {
          case 0 | 1 =>
            val rows = freshRows()
            vt.commitOverwrite(rows.toDF("id"))
            model = model :+ rows.sorted
          case 2 | 3 =>
            val rows = freshRows()
            vt.commitAppend(rows.toDF("id"))
            model = model :+ (model.lastOption.getOrElse(Seq.empty) ++ rows).sorted
          case 4 if model.size - vacuumedBelow > 2 =>
            vt.vacuum(keepVersions = 2, unreferencedGraceMs = 0)
            vacuumedBelow = model.size - 2
          case 5 if model.nonEmpty =>
            // copy-on-write delete of a random id range; matching
            // nothing must commit NO version (model stays)
            val lo = rnd.nextLong(nextId + 20)
            val hi = lo + rnd.nextLong(60)
            val before = vt.versions().size
            vt.delete(org.apache.spark.sql.functions.col("id").between(lo, hi))
            val expect = model.last.filterNot(i => i >= lo && i <= hi)
            if (vt.versions().size > before) model = model :+ expect
            else assert(expect == model.last, s"no-op delete must mean no matches (seed $seed)")
          case 6 if model.nonEmpty =>
            // optimize never changes data; commits only if it packed
            val before = vt.versions().size
            vt.optimize()
            if (vt.versions().size > before) model = model :+ model.last
          case 7 if model.nonEmpty =>
            // merge-on-read delete: same observable semantics as the
            // copy-on-write delete (rows hidden, no-op on no match) —
            // the sidecar mechanics must be invisible to readers
            val lo = rnd.nextLong(nextId + 20)
            val hi = lo + rnd.nextLong(60)
            val before = vt.versions().size
            vt.deleteMoR(org.apache.spark.sql.functions.col("id").between(lo, hi))
            val expect = model.last.filterNot(i => i >= lo && i <= hi)
            if (vt.versions().size > before) model = model :+ expect
            else assert(expect == model.last,
              s"no-op deleteMoR must mean no matches (seed $seed)")
          case 8 if model.nonEmpty =>
            // purge folds DVs into files, data-identical; commits only
            // when the manifest carried DVs
            val before = vt.versions().size
            vt.purgeDeletes()
            if (vt.versions().size > before) model = model :+ model.last
          case _ => // op not applicable yet: skip
        }
        if (model.nonEmpty)
          assert(readIds(vt) == model.last, s"live read diverged (seed $seed)")
      }
      // retained history replays exactly; vacuumed versions refuse
      (1 to model.size).foreach { v =>
        if (v > vacuumedBelow)
          assert(vt.readAt(v).as[Long].collect().sorted.toSeq == model(v - 1),
            s"version $v diverged (seed $seed)")
        else intercept[IllegalArgumentException](vt.readAt(v))
      }
    }
  }
}
