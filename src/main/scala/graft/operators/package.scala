package graft

package object operators {

  /** An oracle's SQL indented one level, to nest it as a scoped
    * subquery or a CTE body inside another oracle. */
  private[operators] def nestSql(q: String): String =
    q.linesIterator.mkString("\n  ")
}
