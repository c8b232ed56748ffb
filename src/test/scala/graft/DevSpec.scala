package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Dev probe` argument parsing: positional queries, sfDir and
  * optional reps, then session confs that must each be `k=v`. */
class DevSpec extends AnyFunSuite {
  import Dev.{ProbeArgs, parseProbe}

  test("probe defaults reps and takes trailing k=v confs") {
    assert(parseProbe(Seq("a01,g06", "/d")) ==
      Right(ProbeArgs(Seq("a01", "g06"), "/d", 3, Nil)))
    assert(parseProbe(Seq("a01", "/d", "5", "spark.sql.shuffle.partitions=8",
        "spark.x=a=b", "spark.empty=")) ==
      Right(ProbeArgs(Seq("a01"), "/d", 5, Seq(
        "spark.sql.shuffle.partitions" -> "8", "spark.x" -> "a=b", "spark.empty" -> ""))))
  }

  test("probe rejects a conf without '=' or with an empty key, bad reps, no sfDir") {
    assert(parseProbe(Seq("a01", "/d", "3", "spark.sql.shuffle.partitions"))
      .left.exists(_.contains("'spark.sql.shuffle.partitions' is not k=v")))
    assert(parseProbe(Seq("a01", "/d", "3", "=8")).isLeft)
    assert(parseProbe(Seq("a01", "/d", "three")).left.exists(_.contains("reps")))
    assert(parseProbe(Seq("a01", "/d", "0")).isLeft)
    assert(parseProbe(Nil).isLeft)
    assert(parseProbe(Seq("a01")).isLeft)
  }
}
