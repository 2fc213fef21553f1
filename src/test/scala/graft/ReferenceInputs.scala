package graft

import org.scalatest.{Failed, Outcome, TestSuite}

import graft.sources.Tables

/** Suites that run over files of the reference repository checkout
  * (`$GRAFT_REFERENCE_DIR`, see [[Tables.referenceDir]]). The
  * precondition is checked once per suite: when a listed file is absent,
  * every test fails with one message naming it, instead of a
  * PATH_NOT_FOUND stack trace from deep inside the test. */
trait ReferenceInputs extends TestSuite {

  /** Paths relative to the reference checkout that the suite reads. */
  protected def referenceFiles: Seq[String]

  private lazy val missing = Tables.missingReference(referenceFiles)

  override def withFixture(test: NoArgTest): Outcome =
    if (missing.isEmpty) super.withFixture(test)
    else Failed(s"reference input missing: ${missing.head}" +
      (if (missing.size > 1) s" (and ${missing.size - 1} more)" else "") +
      "; set GRAFT_REFERENCE_DIR to the reference checkout")
}
