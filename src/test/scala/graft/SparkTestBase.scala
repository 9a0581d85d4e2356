package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession per suite. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
}

object SparkTestBase {
  // gate pins: specs assert the oracle-replayed ANN/LSH shapes;
  // DerivedKnobSpec opts back into the corpus-derived default with an
  // empty-string conf override
  lazy val session: SparkSession = {
    val s = Session.builder(4, gatePins = true).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
