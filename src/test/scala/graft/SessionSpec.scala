package graft

/** The specs run the mains' session config. */
class SessionSpec extends SparkSpec {

  test("the spec session reads every one of Session.confs") {
    val differ = Session.confs.flatMap { case (k, v) =>
      val got = spark.conf.getOption(k)
      if (got.contains(v)) None else Some(s"$k: $got, want $v")
    }
    assert(differ.isEmpty, differ.mkString("\n"))
  }
}
