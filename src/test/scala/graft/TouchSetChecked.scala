package graft

import org.scalatest.BeforeAndAfterAll

/** Runs a spec with `spark.graft.debug.verifyTouchSet=true`: every keyed
  * commit recomputes its exact semi-join touch set and fails if the key
  * census or the bloom pre-prune dropped a truly touched file. */
trait TouchSetChecked extends SparkSpec with BeforeAndAfterAll {
  private val flag = "spark.graft.debug.verifyTouchSet"
  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set(flag, "true")
  }
  override def afterAll(): Unit =
    try spark.conf.unset(flag) finally super.afterAll()
}
