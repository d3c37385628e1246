package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Dev` checks its arguments before it starts a session: an
  * unknown subcommand or query name must fail loudly, since a silent
  * filter would print nothing and read as success.
  */
class DevSpec extends AnyFunSuite {

  test("Dev rejects an unknown subcommand") {
    intercept[IllegalArgumentException](Dev.main(Array("nope", "sfDir")))
    intercept[IllegalArgumentException](Dev.main(Array.empty))
  }

  test("Dev rejects an unknown query name") {
    val bad = "q99_no_such_query"
    assert(!SparkEntry.queries.contains(bad))
    for (args <- Seq(
        Seq("prof", "sfDir", "1", bad), Seq("jobs", "sfDir", bad),
        Seq("plan", "sfDir", "outDir", "x", bad), Seq("repro", "sfDir", bad),
        Seq("scale", "sfDir", "out.json", bad))) {
      val e = intercept[IllegalArgumentException](Dev.main(args.toArray))
      assert(e.getMessage.contains(bad), args.mkString(" "))
    }
  }
}
