package perfbench

/** Checks that a timed action executed the plan a caller pays for.
  *
  * A `count()` over a query lets Catalyst prune every column the count
  * does not need, so a timed plan can shrink to an empty-schema parquet
  * scan (`ReadSchema: struct<>`) that computes none of the query. The
  * guard inspects the executed plan of the materializing action.
  */
object PlanGuard {
  private val ReadSchema = """ReadSchema: (struct<[^\n]*>)""".r

  def readSchemas(plan: String): Seq[String] =
    ReadSchema.findAllMatchIn(plan).map(_.group(1)).toSeq

  /** None when the plan is acceptable, else why not. */
  def check(query: String, plan: String): Option[String] = {
    val schemas = readSchemas(plan)
    if (schemas.nonEmpty && schemas.forall(_ == "struct<>"))
      Some(s"$query: every scan has an empty read schema")
    else if (query == "q20_window_range") {
      val cols = Seq("user_id", "ts", "value")
      if (!plan.linesIterator.exists(_.trim.matches("""^[:+\-* ]*Window\b.*""")))
        Some(s"$query: no Window operator executed")
      else if (!schemas.exists(s => cols.forall(c => s.contains(s"$c:"))))
        Some(s"$query: no scan reads ${cols.mkString(", ")}")
      else None
    } else None
  }
}
