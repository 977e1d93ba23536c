package graft

import org.scalatest.funsuite.AnyFunSuite

/** The `SPARK_GRAFT_EXTRA_CONF` echo never prints a credential. */
class SessionsSpec extends AnyFunSuite {

  test("extra-conf echo redacts values of secret-like keys") {
    for (k <- Seq("spark.hadoop.fs.s3a.secret.key", "spark.hadoop.fs.s3a.access.key",
                  "db.PASSWORD", "spark.hadoop.fs.s3a.session.token", "api.Secret"))
      assert(Sessions.echoed(k, "hunter2") === "*********(redacted)", k)
  }

  test("extra-conf echo keeps ordinary values") {
    assert(Sessions.echoed("spark.sql.shuffle.partitions", "8") === "8")
    assert(Sessions.echoed("spark.sql.autoBroadcastJoinThreshold", "-1") === "-1")
  }
}
