package graft.augment

/** Classification of QUERY-event SQL text into the transaction/DDL classes
  * the augmenter dispatches on (reference semantics:
  * AugmenterContext.java:415-577, default patterns :71-81). Patterns allow a
  * leading /*...*/ comment like MySQL's binlog writes.
  */
object DdlClassifier {

  sealed trait QueryType { def name: String }
  case object Begin extends QueryType { val name = "BEGIN" }
  case object Commit extends QueryType { val name = "COMMIT" }
  case object XaCommit extends QueryType { val name = "XA_COMMIT" }
  case object XaRollback extends QueryType { val name = "XA_ROLLBACK" }
  case object DdlDefiner extends QueryType { val name = "DDL_DEFINER" }
  case object DdlTemporaryTable extends QueryType { val name = "DDL_TEMPORARY_TABLE" }
  case object DdlView extends QueryType { val name = "DDL_VIEW" }
  case object DdlAnalyze extends QueryType { val name = "DDL_ANALYZE" }
  case object DdlTable extends QueryType { val name = "DDL_TABLE" }
  case object Other extends QueryType { val name = "OTHER" }

  private val lead = "^\\s*(?:/\\*.*?\\*/\\s*)?"
  val beginRe = (lead + "(?i:begin|start\\s+transaction)").r
  val commitRe = (lead + "(?i:commit)").r
  // XA decisions arrive as QUERY events in their OWN transaction, linked to
  // the prepared branch by xid text — they must not classify as DDL/OTHER
  val xaCommitRe = (lead + "(?i:xa\\s+commit)").r
  val xaRollbackRe = (lead + "(?i:xa\\s+rollback)").r
  val definerRe = (lead + "(?i:(?:create|alter|drop)\\s+(?:definer\\s*=\\s*\\S+\\s+)?(?:trigger|function|procedure|event))").r
  val tempTableRe = (lead + "(?i:(?:create|drop)\\s+temporary\\s+table)").r
  val viewRe = (lead + "(?i:(?:create|alter|drop)\\s+(?:or\\s+replace\\s+)?(?:algorithm\\s*=\\s*\\S+\\s+)?(?:definer\\s*=\\s*\\S+\\s+)?(?:sql\\s+security\\s+\\S+\\s+)?view)").r
  val analyzeRe = (lead + "(?i:analyze\\s+table)").r
  val tableRe = (lead + "(?i:(?:alter|drop|create|rename|truncate)\\s+table|rename\\s+table|truncate\\s+\\S+$)").r

  def classify(sql: String): QueryType = {
    val s = if (sql == null) "" else sql
    if (beginRe.findPrefixOf(s).isDefined) Begin
    else if (commitRe.findPrefixOf(s).isDefined) Commit
    else if (xaCommitRe.findPrefixOf(s).isDefined) XaCommit
    else if (xaRollbackRe.findPrefixOf(s).isDefined) XaRollback
    else if (definerRe.findPrefixOf(s).isDefined) DdlDefiner
    else if (tempTableRe.findPrefixOf(s).isDefined) DdlTemporaryTable
    else if (viewRe.findPrefixOf(s).isDefined) DdlView
    else if (analyzeRe.findPrefixOf(s).isDefined) DdlAnalyze
    else if (tableRe.findPrefixOf(s).isDefined) DdlTable
    else Other
  }

  /** The xid of an XA COMMIT / XA ROLLBACK statement, canonicalized for
    * matching against an XA_PREPARE event's xid (quotes, backticks and
    * whitespace stripped; a trailing ONE PHASE removed): MySQL renders the
    * xid as 'gtrid'[,'bqual'[,formatID]] in the statement text while the
    * prepare event carries the raw id — both normalize to the same token. */
  def xaXid(sql: String): String =
    normXid(sql.replaceAll("(?i)^\\s*(?:/\\*.*?\\*/\\s*)?xa\\s+(?:commit|rollback)\\s+", "")
      .replaceAll("(?i)\\s+one\\s+phase\\s*$", ""))

  /** An xid with quotes, backticks and whitespace stripped. */
  def normXid(xid: String): String = xid.replaceAll("['`\"\\s]", "")

  /** Strip the source schema qualifier from DDL so it can replay against the
    * engine catalog (reference: ActiveSchemaHelpers.rewriteActiveSchemaName,
    * ActiveSchemaHelpers.java:150-171). */
  def rewriteSchemaName(ddl: String, schema: String): String =
    ddl.replaceAll("(?i)(`?)" + java.util.regex.Pattern.quote(schema) + "\\1\\.", "")

  /** Cross-schema RENAME guard: a rename moving a table into or out of a
    * different schema must not replay (reference:
    * ActiveSchemaHelpers.getShouldProcess, ActiveSchemaHelpers.java:173-198). */
  def shouldReplayRename(ddl: String, ownSchema: String): Boolean = {
    val renameRe = "(?i)rename\\s+table\\s+(.+)".r
    renameRe.findFirstMatchIn(ddl) match {
      case None => true
      case Some(m) =>
        val pairs = m.group(1).split(",")
        pairs.forall { p =>
          p.split("(?i)\\s+to\\s+").forall { side =>
            val qualified = side.trim.takeWhile(_ != '(').split("\\.")
            qualified.length == 1 || qualified.head.replace("`", "").equalsIgnoreCase(ownSchema)
          }
        }
    }
  }
}
