package graft

/** The measurement main's argv contract and the ladder runners it drives,
  * called on the spec's own session (Measure.main would stop it). */
class MeasureSpec extends SparkSpec {

  private def finitePositive(what: String, cell: String): Unit = {
    val t = cell.toDouble
    assert(t > 0 && !t.isInfinite, s"$what: $cell")
  }

  test("an unknown subcommand or a bad count fails with the usage string") {
    Seq(Array("bogus"), Array("ladder", "bogus"), Array("ladder", "docs", "x"),
        Array("soak", "ann", "2", "3"), Array("time", "q_no_such_query"), Array.empty[String])
      .foreach { args =>
        val e = intercept[IllegalArgumentException](Measure.main(args))
        assert(e.getMessage.contains("usage: graft.Measure"), s"${args.mkString(" ")}: $e")
      }
  }

  test("the query-ladder runner writes one timed row per query at 1x and 2x") {
    val header = "query,sf0.1_s,sf1_s,ratio"
    val lines = ScaleTest.runLadder(spark, Sf, 2, ScaleTest.Section(header,
      ScaleTest.Relational, ScaleTest.rows("q1_agg", "q_topk")))
    assert(lines.head == header)
    val rows = lines.tail.map(_.split(','))
    assert(rows.map(_.head) == Seq("q1_agg", "q_topk"), lines.mkString("\n"))
    rows.foreach { r =>
      assert(r.length == 4, r.mkString(","))
      r.tail.foreach(finitePositive(r.head, _))
    }
  }

  test("the evodist leg runner writes one timed entry per leg at 1x and 2x") {
    val lines = ScaleTest.standing(spark, Sf, "evodist", 2)
    assert(lines.head == "standing,scale,seed_append_s,screen_s,delete_1pct_s," +
      "screen_deleted_s,compact_drain_s,screen_drained_s")
    val rows = lines.tail.map(_.split(','))
    assert(rows.map(_.take(2).mkString(",")) == Seq("standing,docs1x", "standing,docs2x"),
      lines.mkString("\n"))
    rows.foreach { r =>
      val legs = r.drop(2).map(_.split('='))
      assert(legs.map(_.head).toSeq ==
        Seq("seed", "screen", "delete", "screen_deleted", "compact", "screen_drained"))
      legs.foreach(l => finitePositive(l.head, l(1)))
    }
  }
}
