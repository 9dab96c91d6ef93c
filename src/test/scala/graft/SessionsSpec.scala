package graft

import graft.operators.Parallelism

/** The session policy every graft main opens its session with, and the
  * one typed read of `spark.sql.shuffle.partitions`. */
class SessionsSpec extends SparkSpec {

  test("policy conf for N cpus is the conf Bench and Verify always used") {
    for (n <- Seq(1, 4, 32))
      assert(Sessions.conf(n, Nil).toMap == Map(
        "spark.master" -> s"local[$n]",
        "spark.sql.shuffle.partitions" -> n.toString,
        "spark.sql.session.timeZone" -> "UTC",
        "spark.ui.enabled" -> "false"))
  }

  test("extra conf is applied after the policy, so it overrides") {
    val c = Sessions.conf(4, Seq(
      "spark.master" -> "local[*]", "spark.sql.adaptive.enabled" -> "false"))
    val effective = c.toMap
    assert(c.last == "spark.sql.adaptive.enabled" -> "false")
    assert(effective("spark.master") == "local[*]")
    assert(effective("spark.sql.shuffle.partitions") == "4")
  }

  test("a non-integer spark.sql.shuffle.partitions is rejected when set") {
    val s = spark.newSession()
    val e = intercept[IllegalArgumentException](
      s.conf.set("spark.sql.shuffle.partitions", "auto"))
    assert(e.getMessage.contains("TYPE_MISMATCH"), e.getMessage)
    s.conf.set("spark.sql.shuffle.partitions", "7")
    assert(Parallelism.shufflePartitions(s.range(1).toDF()) == 7)
    assert(Parallelism.shufflePartitions(spark.range(1).toDF()) ==
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
  }
}
