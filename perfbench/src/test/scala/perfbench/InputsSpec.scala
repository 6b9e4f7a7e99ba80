package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The generator is a pure function of the seed: the same seed gives
  * byte-identical inputs, another seed gives other inputs.
  */
class InputsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[1]")
    .appName("perfbench-inputs").getOrCreate()
  private lazy val base = Inputs.loadBase(spark, "data")

  override def afterAll(): Unit = spark.stop()

  /** Digest of every input the workloads draw, each generator called
    * in an order different from the workloads' own.
    */
  private def digest(seed: Long): String = {
    val in = new Inputs(base, seed)
    val md = MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = md.update(s.getBytes("UTF-8"))
    (3 to 0 by -1).foreach(s => in.slice(s, 100).lines.foreach(add))
    (0 until 3).foreach(p => in.page(p, 100).lines.foreach(add))
    md.digest().map("%02x".format(_)).mkString
  }

  test("the same seed gives byte-identical inputs") {
    assert(digest(7L) == digest(7L))
  }

  test("another seed gives other inputs") {
    assert(digest(7L) != digest(8L))
  }

  test("pages plant their DQ failures and slices their near-copies") {
    val in = new Inputs(base, 11L)
    val page = in.page(1, 100)
    assert(page.quarantined > 0 && page.valid > 0 && page.rows > 100)
    val slice = in.slice(2, 100)
    assert(slice.rows == 100 && slice.nearDups >= 10 && slice.nearDups <= 20)
    assert(slice.mustLand > 0 && slice.mustLand <= slice.rows - slice.nearDups)
    assert(in.slice(0, 100).rows == base.docs.size)
  }
}
