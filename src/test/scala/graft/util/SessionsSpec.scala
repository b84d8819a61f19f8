package graft.util

import org.scalatest.funsuite.AnyFunSuite

/** The dev session profile must stay graft.Bench's regime, and the
  * replay grouping must hand every row to exactly the number of
  * micro-batches asked for. */
class SessionsSpec extends AnyFunSuite {

  test("every literal config of Bench.scala is in the dev profile") {
    // Bench.scala is frozen and cannot call Sessions: read it as text
    val src = scala.io.Source.fromFile("src/main/scala/graft/Bench.scala", "UTF-8")
    val bench = try src.mkString finally src.close()
    val pairs = """\.config\("([^"]+)",\s*"([^"]*)"\)""".r
      .findAllMatchIn(bench).map(m => m.group(1) -> m.group(2)).toSeq
    assert(pairs.size >= 4, s"parsed only $pairs from Bench.scala")
    for ((k, v) <- pairs)
      assert(Sessions.profile.get(k).contains(v), s"$k=$v")
  }

  test("replay groups: min(batches, rows) groups, every row once, in order") {
    val cases = Seq(85 -> 4, 3 -> 5, 0 -> 4, 9 -> 4, 4 -> 4, 1 -> 1) ++
      (for (n <- 1 to 40; b <- 1 to 9) yield n -> b)
    for ((n, b) <- cases) {
      val rows = (0 until n).map(i => s"r$i")
      val gs = Sessions.groups(rows, b)
      assert(gs.size == math.min(b, n), s"$n rows into $b batches")
      assert(gs.flatten == rows, s"$n rows into $b batches")
      if (gs.nonEmpty)
        assert(gs.map(_.size).max - gs.map(_.size).min <= 1, s"$n / $b")
    }
    // the floor-division trap: 85 / 4 must not become 5 batches of 21
    assert(Sessions.groups(0 until 85, 4).map(_.size) == Seq(21, 21, 21, 22))
  }
}
