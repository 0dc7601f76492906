package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the targeted-reverify map (r12 verdict task 6): a renamed
  * module or a query registered from an unmapped file must fail HERE,
  * not silently shrink tools/verify_touched.sh's board. */
class TouchedQueriesSpec extends AnyFunSuite {

  test("every declared query is reachable from some mapped module file") {
    val mapped = TouchedQueries.modules.values.flatMap(_()).toSet
    val declared = SparkEntry.queries.keySet
    val unreachable = declared -- mapped
    assert(unreachable.isEmpty,
      s"queries no module file maps to (add the file to TouchedQueries.modules): $unreachable")
    // and the table never names queries that don't exist (a renamed
    // query would leave a stale name targeting nothing)
    val phantom = mapped -- declared
    assert(phantom.isEmpty, s"mapped but undeclared: $phantom")
  }

  test("every mapped module file exists on disk") {
    // a renamed .scala file would otherwise leave a table key that can
    // never match a diff path — its queries silently covered only by
    // the union check above
    TouchedQueries.modules.keys.foreach { k =>
      assert(new java.io.File(s"src/main/scala/graft/$k").exists(), k)
    }
    // and an inert entry for a deleted main cannot linger
    TouchedQueries.inert.filter(_.startsWith("graft/")).foreach { k =>
      assert(new java.io.File(s"src/main/scala/$k").exists(), k)
    }
  }

  test("unknown main-source files force the full board") {
    assert(TouchedQueries.classify(
      Seq("src/main/scala/graft/operators/BrandNew.scala")) == "ALL")
    assert(TouchedQueries.classify(
      Seq("src/main/scala/graft/Tables.scala")) == "ALL")
    assert(TouchedQueries.classify(
      Seq("src/main/scala/graft/Session.scala")) == "ALL")
  }

  test("the ALL/NONE sentinels stay out of the query-name namespace") {
    // classify() returns its verdict in-band (a comma-joined name list
    // OR the literal sentinel ALL/NONE); a query actually NAMED "ALL"
    // or "NONE" would make its single-query verdict indistinguishable
    // from the sentinel and verify_touched.sh would replay the wrong
    // board (r13 advisor). Pin the namespace split here so adding such
    // a name fails a test instead of corrupting the gate.
    val declared = SparkEntry.queries.keySet
    assert(!declared.contains("ALL") && !declared.contains("NONE"),
      "query names ALL/NONE collide with TouchedQueries.classify sentinels")
    // comma is the list separator — a name containing one would split
    // into two phantom names downstream
    assert(declared.forall(!_.contains(",")), declared.filter(_.contains(",")))
  }

  test("build config is ALL, never inert (dependency bumps change results)") {
    assert(TouchedQueries.classify(Seq("build.sbt")) == "ALL")
    assert(TouchedQueries.classify(Seq("project/plugins.sbt")) == "ALL")
    assert(TouchedQueries.classify(Seq("project/build.properties")) == "ALL")
  }

  test("tests/tools/docs are inert; module edits target exactly their queries") {
    assert(TouchedQueries.classify(
      Seq("src/test/scala/graft/PlanSpec.scala", "tools/check.py", "SURVEY.md")) == "NONE")
    val got = TouchedQueries.classify(
      Seq("src/main/scala/graft/operators/Relational.scala"))
    assert(got == graft.operators.Relational.queries.keySet.toSeq.sorted.mkString(","))
  }
}
