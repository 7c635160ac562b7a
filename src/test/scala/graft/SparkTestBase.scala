package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite, with the settings the warehouse
  * ships ([[graft.Engine.session]]). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.session(getClass.getSimpleName)

  def sf(name: String): String = s"/root/testdata/$name"
}
