package graft

/** The session recipe reaches child sessions: Verify runs each query on a
  * `newSession()` child and the bounded drains run on children of the
  * caller's session, and a child starts from the SparkContext conf, not
  * its parent's runtime settings — so every pin and posture key must be
  * set at builder level. The shared test session is built by the recipe.
  */
class SessionSpec extends SparkTestBase {

  test("a newSession() child of a recipe session carries every gate pin " +
      "and every posture key") {
    val want = Session.gatePins ++ Seq(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.useIdInClassName" -> "false")
    val child = spark.newSession()
    want.foreach { case (k, v) =>
      assert(child.conf.getOption(k).contains(v), s"child session: $k")
    }
  }
}
