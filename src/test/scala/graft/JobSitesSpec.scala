package graft

/** [[SparkSpec.jobSitesDuring]] names engine code or operators, never
  * the spec line that issued the action.
  */
class JobSitesSpec extends SparkSpec {

  import spark.implicits._

  test("a spec-issued action's job sites name no spec line") {
    val sites = jobSitesDuring {
      // a SQL action with a shuffle (AQE runs its stages as two jobs)
      // and a plain RDD action, both called from this file
      Seq(1, 2, 2, 3).toDF("v").groupBy("v").count().collect()
      spark.sparkContext.parallelize(1 to 4, 2).count()
    }
    assert(sites.size >= 2, sites)
    assert(!sites.exists(_.contains("Spec.scala")), sites.mkString("; "))
    assert(sites.forall(_.startsWith("scopes: ")), sites.mkString("; "))
    assert(sites.exists(_.contains("Exchange")), sites.mkString("; "))
  }
}
