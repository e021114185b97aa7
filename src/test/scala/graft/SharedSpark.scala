package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** The test JVM's one Spark session, for every suite that mixes this in.
  * It is built once, by the same factory as every main, so no suite's
  * result depends on which suite ran before it. `spark.sql.codegen.fallback`
  * is off for all of them: a native expression whose generated code does
  * not compile fails its test instead of passing interpreted.
  *
  * After each suite the cache is cleared, so no suite sees another's pins.
  * No suite stops the context; Spark's own shutdown hook stops it when
  * the JVM exits.
  */
trait SharedSpark extends BeforeAndAfterAll { this: Suite =>

  lazy val spark: SparkSession = SharedSpark.session

  override def afterAll(): Unit =
    try spark.catalog.clearCache()
    finally super.afterAll()
}

object SharedSpark {
  lazy val session: SparkSession = {
    val spark = GraftSession.local("local[4]", 4)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark
  }
}
