package graft

import org.scalatest.funsuite.AnyFunSuite

/** Settings the build passes to the forked test JVM. */
class BuildSpec extends AnyFunSuite {

  test("spark.local.dir is SPARK_GRAFT_LOCAL_DIR when set, else java.io.tmpdir") {
    val want = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", sys.props("java.io.tmpdir"))
    assert(sys.props.get("spark.local.dir").contains(want))
    assert(SparkFixture.spark.sparkContext.getConf.get("spark.local.dir") == want)
  }
}
