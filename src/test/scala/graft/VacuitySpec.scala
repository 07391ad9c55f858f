package graft

/** Vacuity guard: every registered query must return at least one row at
  * sf0.001 — a query whose oracle comparison matches on ZERO rows proves
  * nothing (a broken predicate or threshold also returns 0 rows and
  * still hash-matches; q155 passed vacuously for a round this way).
  * `tools/oracle_check.py` enforces the same invariant at sf0.01 on the
  * actual oracle dump; this spec catches the regression in-suite, before
  * a verify round, from the row counts of [[RegistryWalk]]'s one
  * full-plan run of the registry.
  *
  * A query that is legitimately empty at this scale must be whitelisted
  * here AND in oracle_check.py's EMPTY_BY_DESIGN, with a comment saying
  * why empty is the verified-correct answer. The whitelist is empty
  * today — every registered query is non-empty at both scales.
  */
class VacuitySpec extends SparkSpec {

  private val emptyByDesign: Set[String] = Set.empty

  test("every registered query returns >= 1 row at sf0.001") {
    val vacuous = RegistryWalk.vacuous(RegistryWalk.all, emptyByDesign)
    assert(vacuous.isEmpty,
      s"queries with 0 rows at sf0.001 (vacuous oracle match): $vacuous")
  }
}
