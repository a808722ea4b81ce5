package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.{BloomFns, CmsEstimate, CosineSim, DotProduct,
  SimHash32}

/** Session extension wiring: `--conf spark.sql.extensions=graft.GraftExtensions`
  * (or `.withExtensions(new GraftExtensions)`) makes the engine's native
  * functions available to plain SQL (e.g.
  * `SELECT cosine_sim(a.embedding, b.embedding)`). It injects functions
  * only: the engine has no optimizer rules, and its size-gated operators
  * (`Similarity.cosinePairs`, `PrefixSum.shardedPrior`) are API calls.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(CosineSim.registration)
    ext.injectFunction(DotProduct.registration)
    ext.injectFunction(SimHash32.registration)
    ext.injectFunction(BloomFns.aggRegistration)
    ext.injectFunction(BloomFns.containsRegistration)
    ext.injectFunction(CmsEstimate.registration)
  }
}
