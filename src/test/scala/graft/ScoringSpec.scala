package graft

import graft.analysis.Scoring

/** `Scoring` operators whose contract no query pins. */
class ScoringSpec extends SparkSpec {
  import spark.implicits._

  test("epistemicStatus classifies at the A13 ladder's boundaries; a NULL count or mean " +
      "is INSUFFICIENT_DATA") {
    val cases = Seq[(String, Option[Long], Option[Double], String)](
      ("n = 2", Some(2L), Some(0.9), "INSUFFICIENT_DATA"),
      ("n = 3", Some(3L), Some(0.9), "WELL_GROUNDED"),
      ("avg = 0.8", Some(3L), Some(0.8), "PARTIALLY_GROUNDED"),
      ("avg past 0.8", Some(3L), Some(Math.nextUp(0.8)), "WELL_GROUNDED"),
      ("avg = -0.5", Some(3L), Some(-0.5), "WEAKLY_CONTRADICTED"),
      ("avg past -0.5", Some(3L), Some(Math.nextDown(-0.5)), "CONTRADICTED"),
      ("avg = 0.0", Some(3L), Some(0.0), "PARTIALLY_GROUNDED"),
      ("avg below 0.0", Some(3L), Some(Math.nextDown(0.0)), "WEAKLY_CONTRADICTED"),
      ("NULL n", None, Some(0.9), "INSUFFICIENT_DATA"),
      ("NULL avg", Some(3L), None, "INSUFFICIENT_DATA"))
    val perType = cases.map(c => (c._1, c._2, c._3)).toDF("rel_type", "n", "avg_grounding")
    val got = Scoring.epistemicStatus(perType, "avg_grounding", "n")
      .select("rel_type", "epistemic_status").as[(String, String)].collect().toMap
    cases.foreach { case (what, _, _, want) => assert(got(what) == want, what) }
  }
}
