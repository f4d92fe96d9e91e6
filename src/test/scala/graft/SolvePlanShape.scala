package graft

/** The solve's executed plan shape on every placement: each cogroup side
  * is repartitioned once, by the placement id column, straight below the
  * CoGroup, the solve broadcasts no relation, and no operator of the run
  * reads an RDD. The inputs must be
  * materialized before the plans are captured. */
object SolvePlanShape {

  /** the detail blocks of one operator in a formatted plan */
  def nodes(plan: String, name: String): Seq[String] =
    plan.split("\n\n").toSeq.map(_.trim).filter(_.matches(s"(?s)\\(\\d+\\) $name\\b.*"))

  /** the operator trees of the plans, without their detail blocks */
  def trees(plans: Seq[String]): String = plans.map(_.split("\n\n").head).mkString("\n")

  /** what the plans posted during one solve break of that shape */
  def violations(plans: Seq[String]): Seq[String] = {
    val solve = plans.filter(_.contains("CoGroup"))
    // the execution's start event holds its initial plan once; AQE updates
    // print the final and the initial plan together
    val idExchanges = solve.headOption.toSeq
      .flatMap(nodes(_, "Exchange")).count(_.contains("shufflepartitionidpassthrough"))
    Seq(
      solve.isEmpty -> "no CoGroup executed",
      (idExchanges != 2) -> s"$idExchanges id-passthrough exchanges, want 2",
      solve.exists(nodes(_, "Exchange").exists(_.contains("hashpartitioning(c_line"))) ->
        "a hash exchange on the group key",
      // per-cluster values reach the solve as broadcast maps; a broadcast
      // relation on the string cluster key holds a whole page per JVM
      solve.exists(_.contains("BroadcastExchange")) -> "a BroadcastExchange",
      // an RDD brought back as a Dataset (ExternalRDDScan) prints as a Scan
      // whose one output is the JVM object
      plans.exists(nodes(_, "Scan").exists(_.contains("Output [1]: [obj#"))) ->
        "an RDD scan"
    ).collect { case (true, msg) => msg }
  }
}
