package graft.core

import org.apache.spark.sql.SparkSession

/** The from-scratch oracle the IVM specs check maintained views against.
  * `build` registers the relations in a fresh session, inserts every row
  * inserted so far and returns the view's defining expression; the oracle
  * evaluates that expression ad hoc — the full evaluator, which shares no
  * view delta step or view promotion with the maintenance under test — and
  * returns its rows sorted. Compare the view's rows as a sorted sequence
  * too, not as a set: a row a view holds twice then shows up.
  */
object FromScratch {
  def apply[T: Ordering](spark: SparkSession)(build: CoddSession => Expr[T]): Seq[T] = {
    val o = new CoddSession(spark)
    try o.evaluate(build(o)).collect().toSeq.sorted
    finally o.close()
  }
}
