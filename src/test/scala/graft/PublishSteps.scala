package graft

/** [[graft.sources.Materialize.publishSetAudited]]'s `crashAfter`
  * numbering for an n-member set (its scaladoc lists the sequence):
  * the one place specs compute crash steps. */
object PublishSteps {
  /** Member i has been staged. */
  def staged(i: Int): Int = 1 + i
  /** Member i has been renamed in over its published name. */
  def renamedIn(i: Int, n: Int): Int = n + 4 + 3 * i
  /** Steps in the whole sequence. */
  def count(n: Int): Int = 4 * n + 3
}
