package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session shared across suites

  /** `body` in a fresh [[graft.core.Scope]], closed once `body` returns —
    * so `body` must materialize what it reads from the scope. */
  def scoped[A](body: => A): A = {
    val (a, scope) = graft.core.Scope.run(body)
    scope.close()
    a
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.create(cores = 4)
}
