package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType, StringType, StructType}

import graft.sources.GraftTable

/** SQL statements for table-format maintenance — the `OPTIMIZE` /
  * `VACUUM` / `DELETE` verbs Delta exposes as SQL, here prefixed with
  * `GRAFT` so they can never collide with Spark's grammar:
  *
  * {{{
  *   GRAFT OPTIMIZE '<root>' SINK '<sink>' [SMALL <bytes>] [TARGET <bytes>]
  *         [WHERE <partition predicate>]
  *   GRAFT OPTIMIZE '<root>' SINK '<sink>' ZORDER BY (c1, c2) [TARGET <bytes>]
  *         [WHERE <partition predicate>]
  *   GRAFT VACUUM '<root>' RETAIN <millis> [DRY RUN]
  *   GRAFT DELETE '<root>' SINK '<sink>' WHERE <predicate>
  *   GRAFT UPDATE '<root>' SINK '<sink>' SET c = expr[, …] WHERE <predicate>
  *   GRAFT MERGE '<root>' SINK '<sink>' USING (<query>) ON k[, …]
  *         [INSERT ONLY | UPDATE ONLY]
  *   GRAFT HISTORY '<root>'
  *   GRAFT CHECKPOINT '<root>' [THROUGH <batch id>]
  *   GRAFT INDEX BUILD   <kind> '<root>' FROM (<query>)
  *   GRAFT INDEX MERGE   <kind> '<root>' FROM (<query>)
  *   GRAFT INDEX INGEST  IVF|HNSW_ROUTED '<root>' FROM (<query>)
  *   GRAFT INDEX ADMIT   MINHASH|WINNOW '<root>' FROM (<query>)
  *   GRAFT INDEX COMPACT MINHASH|WINNOW|TERMS|IVF|HNSW_ROUTED '<root>'
  *   GRAFT INDEX VACUUM  IVF|PQ|HNSW_ROUTED '<root>'
  *   GRAFT INDEX STATS   HNSW_ROUTED '<root>'
  * }}}
  *
  * Every table verb also takes a CATALOG-NAMED table in place of
  * `'<root>' SINK '<sink>'` — `GRAFT OPTIMIZE cat.db.t`,
  * `GRAFT DELETE cat.db.t WHERE …`, `GRAFT HISTORY cat.db.t` — where
  * `cat` is a [[GraftCatalog]] and the name resolves to a `graft-log`
  * binding through its metadata ([[GraftCatalog.resolveLogTable]]),
  * making the SQL surface self-contained: register once, then read
  * (`SELECT … FROM cat.db.t`), time-travel (`VERSION AS OF`), and
  * maintain by name.
  *
  * `<kind>` ∈ MINHASH | WINNOW | TERMS | DECONTAM | IVF | PQ | HNSW |
  * HNSW_ROUTED. The INDEX verbs drive the persisted index lifecycles
  * ([[graft.operators.MinhashIndex]] & friends) — build/merge/compact/
  * vacuum as eager commands over an arbitrary parenthesized source
  * query whose columns must match the index's input contract:
  * `(doc_id, text)` for the text kinds, `(vec_id, v: array<double>)`
  * for PQ and HNSW, `(vec_id, label, v: array<double>)` for IVF and
  * HNSW_ROUTED BUILD/MERGE — their INGEST takes bare
  * `(vec_id, v: array<double>)` and assigns cells against the frozen
  * centroids. ADMIT is the production crawl gate
  * ([[graft.operators.MinhashIndex.admit]] for whole-doc near-dup,
  * [[graft.operators.WinnowIndex.admit]] for copied-passage overlap):
  * the `(doc_id, text)` batch is checked against the index,
  * survivors merge in,
  * and — uniquely among the INDEX verbs — the command's result set is
  * the per-doc admission log `(doc_id, admitted)` rather than the
  * one-row summary, so a SQL-orchestrated pipeline can both gate and
  * learn WHAT was gated. The READ side
  * is deliberately not a command (a command would collect corpus-sized
  * results to the driver): for the text kinds it is the lazy table
  * function `graft_index_query(kind, indexRoot, docsDir[, predicate])`
  * registered by [[GraftExtensions]], composable inside any SELECT;
  * the vector kinds' probes are the existing sim_* query surface.
  *
  * Everything else delegates to Spark's parser. The commands are
  * `RunnableCommand`s: `spark.sql(...)` executes them eagerly (the
  * same semantics as Spark's own DDL), they run through the same
  * `GraftTable` code paths as the Scala API, and they return their
  * outcome as rows. The DELETE predicate is parsed by Spark's own
  * expression parser — the full SQL expression language is available —
  * and resolves against the sink's frame inside `deleteWhere`.
  *
  * Installed via `spark.sql.extensions=graft.GraftExtensions` (parser
  * injection happens at session build; the live `install(spark)` path
  * cannot add parser rules and documents that).
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {
  import GraftSqlParser._

  /** `catalog.ns….table` → (root, sink) via the graft catalog's
    * metadata — the named-table spelling of every maintenance verb
    * (`GRAFT OPTIMIZE cat.db.t` ≡ `GRAFT OPTIMIZE '<root>' SINK
    * '<sink>'`). Resolved AT PARSE time against the active session:
    * these are eager maintenance commands, so parse and run are one
    * `spark.sql(...)` call apart. */
  private def named(ident: String): (String, String) =
    GraftCatalog.resolveLogTable(org.apache.spark.sql.SparkSession.active,
      splitIdentifier(ident))

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case ZorderRe(root, sink, cols, target, where) =>
      Option(where).foreach(delegate.parseExpression) // fail fast
      GraftZorderCommand(root, sink,
        cols.split(",").map(_.trim.stripPrefix("`").stripSuffix("`")).toSeq,
        Option(target).map(_.toLong), Option(where))
    case ZorderNamedRe(ident, cols, target, where) =>
      Option(where).foreach(delegate.parseExpression)
      val (root, sink) = named(ident)
      GraftZorderCommand(root, sink,
        cols.split(",").map(_.trim.stripPrefix("`").stripSuffix("`")).toSeq,
        Option(target).map(_.toLong), Option(where))
    case OptimizeRe(root, sink, small, target, where) =>
      Option(where).foreach(delegate.parseExpression) // fail fast
      GraftOptimizeCommand(root, sink,
        Option(small).map(_.toLong), Option(target).map(_.toLong),
        Option(where))
    case OptimizeNamedRe(ident, small, target, where) =>
      Option(where).foreach(delegate.parseExpression)
      val (root, sink) = named(ident)
      GraftOptimizeCommand(root, sink,
        Option(small).map(_.toLong), Option(target).map(_.toLong),
        Option(where))
    case VacuumRe(root, retain, dry) =>
      GraftVacuumCommand(root, retain.toLong, dry != null)
    case VacuumNamedRe(ident, retain, dry) =>
      GraftVacuumCommand(named(ident)._1, retain.toLong, dry != null)
    case DeleteRe(root, sink, cond) =>
      delegate.parseExpression(cond) // fail fast on bad syntax at parse time
      GraftDeleteCommand(root, sink, cond)
    case DeleteNamedRe(ident, cond) =>
      delegate.parseExpression(cond)
      val (root, sink) = named(ident)
      GraftDeleteCommand(root, sink, cond)
    case UpdateNamedRe(ident, rest) =>
      val wh = topLevelIndexOfWord(rest, "WHERE")
      require(wh > 0,
        s"GRAFT UPDATE needs a top-level WHERE clause: $sqlText")
      val set = splitAssignments(rest.take(wh))
      val cond = rest.drop(wh + 5).trim
      set.foreach { case (_, rhs) => delegate.parseExpression(rhs) }
      delegate.parseExpression(cond)
      val (root, sink) = named(ident)
      GraftUpdateCommand(root, sink, set, cond)
    case UpdateRe(root, sink, rest) =>
      // SET / WHERE split by the top-level scanner, not a regex: a
      // 'WHERE' inside a string literal or parens belongs to the SET
      // expression (SET note = 'a where b' WHERE id = 1)
      val wh = topLevelIndexOfWord(rest, "WHERE")
      require(wh > 0,
        s"GRAFT UPDATE needs a top-level WHERE clause: $sqlText")
      val set = splitAssignments(rest.take(wh))
      val cond = rest.drop(wh + 5).trim
      set.foreach { case (_, rhs) => delegate.parseExpression(rhs) }
      delegate.parseExpression(cond)
      GraftUpdateCommand(root, sink, set, cond)
    case MergeRe(root, sink, rest) =>
      // the source query ends at the paren MATCHING the opening one
      // (scanner is quote-aware — a literal ') ON x' inside the query
      // cannot end it); what follows must be `ON keys [mode]`
      val close = matchingParen(rest, 0)
      require(close > 0,
        s"GRAFT MERGE: unbalanced parens around the USING query: $sqlText")
      val query = rest.substring(1, close)
      val (keys, mode, delWhen) = rest.substring(close + 1).trim match {
        case MergeTailRe(ks, m, d) => (ks, m, Option(d).map(_.trim))
        case tail => throw new IllegalArgumentException(
          s"GRAFT MERGE: expected 'ON key[, …] [INSERT ONLY|UPDATE " +
            s"ONLY] [DELETE WHEN <expr>]' after the USING query, got: $tail")
      }
      delegate.parseQuery(query) // fail fast on bad source syntax
      delWhen.foreach(delegate.parseExpression) // and on a bad tombstone
      GraftMergeCommand(root, sink, query,
        keys.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
        update = mode == null || !mode.equalsIgnoreCase("INSERT ONLY"),
        insert = mode == null || !mode.equalsIgnoreCase("UPDATE ONLY"),
        deleteWhen = delWhen)
    case MergeNamedRe(ident, rest) =>
      val close = matchingParen(rest, 0)
      require(close > 0,
        s"GRAFT MERGE: unbalanced parens around the USING query: $sqlText")
      val query = rest.substring(1, close)
      val (keys, mode, delWhen) = rest.substring(close + 1).trim match {
        case MergeTailRe(ks, m, d) => (ks, m, Option(d).map(_.trim))
        case tail => throw new IllegalArgumentException(
          s"GRAFT MERGE: expected 'ON key[, …] [INSERT ONLY|UPDATE " +
            s"ONLY] [DELETE WHEN <expr>]' after the USING query, got: $tail")
      }
      delegate.parseQuery(query)
      delWhen.foreach(delegate.parseExpression)
      val (root, sink) = named(ident)
      GraftMergeCommand(root, sink, query,
        keys.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
        update = mode == null || !mode.equalsIgnoreCase("INSERT ONLY"),
        insert = mode == null || !mode.equalsIgnoreCase("UPDATE ONLY"),
        deleteWhen = delWhen)
    case HistoryRe(root) => GraftHistoryCommand(root)
    case HistoryNamedRe(ident) => GraftHistoryCommand(named(ident)._1)
    case CheckpointRe(root, through) =>
      GraftCheckpointCommand(root, Option(through).map(_.toLong))
    case CheckpointNamedRe(ident, through) =>
      GraftCheckpointCommand(named(ident)._1, Option(through).map(_.toLong))
    case IndexFromRe(verb, kind, root, rest) =>
      val close = matchingParen(rest, 0)
      require(close > 0,
        s"GRAFT INDEX $verb: unbalanced parens around the FROM query: $sqlText")
      require(rest.substring(close + 1).trim.stripSuffix(";").trim.isEmpty,
        s"GRAFT INDEX $verb: unexpected trailing text after the FROM " +
          s"query: ${rest.substring(close + 1).trim}")
      val query = rest.substring(1, close)
      delegate.parseQuery(query) // fail fast on bad source syntax
      GraftIndexCommand(verb.toUpperCase, kind.toUpperCase, root, Some(query))
    case IndexCompactRe(kind, root) =>
      GraftIndexCommand("COMPACT", kind.toUpperCase, root, None)
    case IndexVacuumRe(kind, root) =>
      GraftIndexCommand("VACUUM", kind.toUpperCase, root, None)
    case IndexStatsRe(kind, root) =>
      GraftIndexCommand("STATS", kind.toUpperCase, root, None)
    case IndexRebuildIvfRe(root, threshold) =>
      GraftIndexCommand("REBUILD", "IVF", root, None,
        Option(threshold).map(_.toDouble))
    case IndexRebuildPqRe(root, rest) =>
      val close = matchingParen(rest, 0)
      require(close > 0,
        s"GRAFT INDEX REBUILD: unbalanced parens around the FROM " +
          s"query: $sqlText")
      val (queryPart, tail) =
        (rest.substring(1, close), rest.substring(close + 1).trim)
      val threshold = tail.stripSuffix(";").trim match {
        case "" => None
        case t =>
          val m = "(?is)THRESHOLD\\s+([0-9.]+)".r.pattern.matcher(t)
          require(m.matches(),
            s"GRAFT INDEX REBUILD PQ: expected [THRESHOLD <frac>] after " +
              s"the FROM query, got: $t")
          Some(m.group(1).toDouble)
      }
      delegate.parseQuery(queryPart)
      GraftIndexCommand("REBUILD", "PQ", root, Some(queryPart), threshold)
    case _ => delegate.parsePlan(sqlText)
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
}

object GraftSqlParser {
  private val OptimizeRe =
    """(?is)\s*GRAFT\s+OPTIMIZE\s+'([^']+)'\s+SINK\s+'([^']+)'(?:\s+SMALL\s+(\d+))?(?:\s+TARGET\s+(\d+))?(?:\s+WHERE\s+(.+?))?\s*;?\s*""".r
  // ZORDER must match BEFORE the plain OPTIMIZE forms (its prefix is
  // identical through the sink)
  private val ZorderRe =
    """(?is)\s*GRAFT\s+OPTIMIZE\s+'([^']+)'\s+SINK\s+'([^']+)'\s+ZORDER\s+BY\s*\(([^)]+)\)(?:\s+TARGET\s+(\d+))?(?:\s+WHERE\s+(.+?))?\s*;?\s*""".r
  private val VacuumRe =
    """(?is)\s*GRAFT\s+VACUUM\s+'([^']+)'\s+RETAIN\s+(\d+)(\s+DRY\s+RUN)?\s*;?\s*""".r
  private val DeleteRe =
    """(?is)\s*GRAFT\s+DELETE\s+'([^']+)'\s+SINK\s+'([^']+)'\s+WHERE\s+(.+?)\s*;?\s*""".r
  // SET/WHERE and USING/ON splits happen in the quote- and paren-aware
  // scanner (topLevelIndexOfWord / matchingParen), not here — a regex
  // split would misfire on keywords inside string literals
  private val UpdateRe =
    """(?is)\s*GRAFT\s+UPDATE\s+'([^']+)'\s+SINK\s+'([^']+)'\s+SET\s+(.+?)\s*;?\s*""".r
  private val MergeRe =
    """(?is)\s*GRAFT\s+MERGE\s+'([^']+)'\s+SINK\s+'([^']+)'\s+USING\s+(\(.+?)\s*;?\s*""".r
  // the optional tombstone clause (`DELETE WHEN <expr>`, Delta's
  // WHEN MATCHED AND <cond> THEN DELETE) takes the rest of the
  // statement as predicate text — validated at parse time, resolved
  // against the joined frame inside GraftTable.merge
  private val MergeTailRe =
    """(?is)ON\s+([\w`"]+(?:\s*,\s*[\w`"]+)*)(?:\s+(INSERT\s+ONLY|UPDATE\s+ONLY))?(?:\s+DELETE\s+WHEN\s+(.+?))?\s*;?\s*""".r
  private val HistoryRe =
    """(?is)\s*GRAFT\s+HISTORY\s+'([^']+)'\s*;?\s*""".r
  private val CheckpointRe =
    """(?is)\s*GRAFT\s+CHECKPOINT\s+'([^']+)'(?:\s+THROUGH\s+(\d+))?\s*;?\s*""".r
  // NAMED-table spellings: a ≥3-part dotted identifier
  // (catalog.namespace….table) in place of '<root>' SINK '<sink>' —
  // resolved against the graft catalog's metadata at parse time
  private val Ident = """((?:[\w`]+\.){2,}[\w`]+)"""
  private val OptimizeNamedRe =
    s"""(?is)\\s*GRAFT\\s+OPTIMIZE\\s+$Ident(?:\\s+SMALL\\s+(\\d+))?(?:\\s+TARGET\\s+(\\d+))?(?:\\s+WHERE\\s+(.+?))?\\s*;?\\s*""".r
  private val ZorderNamedRe =
    s"""(?is)\\s*GRAFT\\s+OPTIMIZE\\s+$Ident\\s+ZORDER\\s+BY\\s*\\(([^)]+)\\)(?:\\s+TARGET\\s+(\\d+))?(?:\\s+WHERE\\s+(.+?))?\\s*;?\\s*""".r
  private val VacuumNamedRe =
    s"""(?is)\\s*GRAFT\\s+VACUUM\\s+$Ident\\s+RETAIN\\s+(\\d+)(\\s+DRY\\s+RUN)?\\s*;?\\s*""".r
  private val DeleteNamedRe =
    s"""(?is)\\s*GRAFT\\s+DELETE\\s+$Ident\\s+WHERE\\s+(.+?)\\s*;?\\s*""".r
  private val UpdateNamedRe =
    s"""(?is)\\s*GRAFT\\s+UPDATE\\s+$Ident\\s+SET\\s+(.+?)\\s*;?\\s*""".r
  private val MergeNamedRe =
    s"""(?is)\\s*GRAFT\\s+MERGE\\s+$Ident\\s+USING\\s+(\\(.+?)\\s*;?\\s*""".r
  private val HistoryNamedRe =
    s"""(?is)\\s*GRAFT\\s+HISTORY\\s+$Ident\\s*;?\\s*""".r
  private val CheckpointNamedRe =
    s"""(?is)\\s*GRAFT\\s+CHECKPOINT\\s+$Ident(?:\\s+THROUGH\\s+(\\d+))?\\s*;?\\s*""".r
  private val IndexFromRe =
    """(?is)\s*GRAFT\s+INDEX\s+(BUILD|MERGE|INGEST|ADMIT)\s+(MINHASH|WINNOW|TERMS|DECONTAM|IVF|PQ|HNSW_ROUTED|HNSW)\s+'([^']+)'\s+FROM\s+(\(.+?)\s*;?\s*""".r
  private val IndexCompactRe =
    """(?is)\s*GRAFT\s+INDEX\s+COMPACT\s+(MINHASH|WINNOW|TERMS|IVF|HNSW_ROUTED)\s+'([^']+)'\s*;?\s*""".r
  private val IndexVacuumRe =
    """(?is)\s*GRAFT\s+INDEX\s+VACUUM\s+(IVF|PQ|HNSW_ROUTED)\s+'([^']+)'\s*;?\s*""".r
  private val IndexStatsRe =
    """(?is)\s*GRAFT\s+INDEX\s+STATS\s+(HNSW_ROUTED)\s+'([^']+)'\s*;?\s*""".r
  // drift maintenance: IVF rebuilds from its own stored vectors; PQ
  // stores only codes, so its rebuild input arrives as a FROM query
  private val IndexRebuildIvfRe =
    """(?is)\s*GRAFT\s+INDEX\s+REBUILD\s+IVF\s+'([^']+)'(?:\s+THRESHOLD\s+([0-9.]+))?\s*;?\s*""".r
  private val IndexRebuildPqRe =
    """(?is)\s*GRAFT\s+INDEX\s+REBUILD\s+PQ\s+'([^']+)'\s+FROM\s+(\(.+?)\s*;?\s*""".r

  /** Split a dotted identifier into its segments, honoring backtick
    * quoting — `cat.db.`my.table`` is three segments, the last
    * containing a dot (the catalog's own SegmentRe allows dots in
    * names, so a naive split('.') would mis-resolve it). */
  private[graft] def splitIdentifier(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQ = false
    s.foreach {
      case '`' => inQ = !inQ
      case '.' if !inQ => out += cur.result(); cur.clear()
      case c => cur += c
    }
    out += cur.result()
    out.result()
  }

  /** Split `a = expr1, b = expr2` on TOP-LEVEL commas (commas inside
    * parens or string literals belong to the expression), then each
    * assignment at its first top-level `=`. */
  private[graft] def splitAssignments(s: String): Seq[(String, String)] =
    splitTopLevel(s, ',').map { a =>
      val eq = topLevelIndexOf(a, '=')
      require(eq > 0, s"bad SET assignment '$a' (want column = expression)")
      (a.take(eq).trim.stripPrefix("`").stripSuffix("`"),
        a.drop(eq + 1).trim)
    }

  private def splitTopLevel(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var inStr = false; var from = 0; var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' => inStr = !inStr
        case '(' if !inStr => depth += 1
        case ')' if !inStr => depth -= 1
        case c if c == sep && !inStr && depth == 0 =>
          out += s.substring(from, i); from = i + 1
        case _ => ()
      }
      i += 1
    }
    out += s.substring(from)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Index of the first TOP-LEVEL occurrence of keyword `word` (case-
    * insensitive, word-bounded): occurrences inside string literals or
    * parens don't count. -1 if absent. */
  private[graft] def topLevelIndexOfWord(s: String, word: String): Int = {
    val n = word.length
    def isWordChar(c: Char) = Character.isLetterOrDigit(c) || c == '_'
    var depth = 0; var inStr = false; var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' => inStr = !inStr
        case '(' if !inStr => depth += 1
        case ')' if !inStr => depth -= 1
        case _ =>
          if (!inStr && depth == 0 &&
              s.regionMatches(true, i, word, 0, n) &&
              (i == 0 || !isWordChar(s.charAt(i - 1))) &&
              (i + n >= s.length || !isWordChar(s.charAt(i + n))))
            return i
      }
      i += 1
    }
    -1
  }

  /** Index of the paren closing the one at `open` (string literals
    * skipped); -1 when unbalanced or `open` is not a '('. */
  private[graft] def matchingParen(s: String, open: Int): Int = {
    if (open >= s.length || s.charAt(open) != '(') return -1
    var depth = 0; var inStr = false; var i = open
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' => inStr = !inStr
        case '(' if !inStr => depth += 1
        case ')' if !inStr =>
          depth -= 1
          if (depth == 0) return i
        case _ => ()
      }
      i += 1
    }
    -1
  }

  private def topLevelIndexOf(s: String, c: Char): Int = {
    var depth = 0; var inStr = false; var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' => inStr = !inStr
        case '(' if !inStr => depth += 1
        case ')' if !inStr => depth -= 1
        case x if x == c && !inStr && depth == 0 => return i
        case _ => ()
      }
      i += 1
    }
    -1
  }
}

/** `GRAFT OPTIMIZE`: [[GraftTable.compact]] as a SQL command. */
case class GraftOptimizeCommand(root: String, sink: String,
                                small: Option[Long], target: Option[Long],
                                where: Option[String] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType)(),
    AttributeReference("note", StringType)())
  override def run(spark: SparkSession): Seq[Row] =
    GraftTable.compact(spark, root, sink,
      small.getOrElse(32L << 20), target.getOrElse(128L << 20),
      where) match {
      case Some(v) => Seq(Row(v, s"compacted '$sink' into version $v"))
      case None => Seq(Row(null, "nothing to compact"))
    }
}

/** `GRAFT OPTIMIZE … ZORDER BY`: [[GraftTable.zorder]] as a SQL
  * command — the whole sink rewritten clustered on the Morton
  * interleave of two numeric columns. */
case class GraftZorderCommand(root: String, sink: String,
                              cols: Seq[String], target: Option[Long],
                              where: Option[String] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType)(),
    AttributeReference("note", StringType)())
  override def run(spark: SparkSession): Seq[Row] =
    GraftTable.zorder(spark, root, sink, cols,
      target.getOrElse(128L << 20), where) match {
      case Some(v) => Seq(Row(v,
        s"z-ordered '$sink' on (${cols.mkString(", ")}) into version $v"))
      case None => Seq(Row(null, "nothing to rewrite"))
    }
}

/** `GRAFT VACUUM`: [[GraftTable.vacuum]] as a SQL command. */
case class GraftVacuumCommand(root: String, retainMs: Long,
                              dryRun: Boolean = false)
    extends LeafRunnableCommand {
  // DRY RUN returns the would-be victims one per row (actionable
  // output); the destructive form keeps its count-only contract
  override val output: Seq[Attribute] =
    if (dryRun) Seq(AttributeReference("would_remove", StringType)())
    else Seq(AttributeReference("removed", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val victims = GraftTable.vacuum(spark, root, retainMs, dryRun)
    if (dryRun) victims.map(Row(_))
    else Seq(Row(victims.size.toLong))
  }
}

/** `GRAFT CHECKPOINT`: [[GraftTable.checkpoint]] as a SQL command —
  * fold the commit-file prefix (through the given batch id, default
  * the newest) into one versioned manifest, keeping the per-version
  * structure so time travel survives. The maintenance verb that keeps
  * log listing O(recent commits) on a long-lived table. */
case class GraftCheckpointCommand(root: String, through: Option[Long])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("through", LongType)(),
    AttributeReference("note", StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val vs = GraftTable.versions(spark, root)
    if (vs.isEmpty) return Seq(Row(null, "nothing to checkpoint"))
    // A THROUGH above the latest committed version would write a
    // checkpoint manifest whose encoded name outranks every later
    // legitimate checkpoint while folding fewer versions — committed
    // versions would silently vanish from history() and vacuum could
    // then delete their data files. Refuse up front.
    through.foreach { t =>
      require(t <= vs.last,
        s"GRAFT CHECKPOINT THROUGH $t exceeds the latest committed " +
          s"version ${vs.last} of '$root'")
    }
    val t = through.getOrElse(vs.last)
    GraftTable.checkpoint(spark, root, t)
    Seq(Row(t, s"folded commits through version $t"))
  }
}

/** `GRAFT HISTORY`: Delta's `DESCRIBE HISTORY` analog — one row per
  * published version (survives checkpoint folding), with file counts
  * and the sinks each version touched. */
case class GraftHistoryCommand(root: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType)(),
    AttributeReference("added_files", LongType)(),
    AttributeReference("removed_files", LongType)(),
    AttributeReference("sinks", StringType)(),
    AttributeReference("committed_at",
      org.apache.spark.sql.types.TimestampType)())
  override def run(spark: SparkSession): Seq[Row] = {
    // effective (monotone-adjusted) commit instants — the same values
    // TIMESTAMP AS OF resolves against, so a user can copy a row's
    // committed_at straight into a time-travel query
    val ts = GraftTable.versionTimestamps(spark, root).toMap
    GraftTable.history(spark, root).map { v =>
      Row(v.batchId, v.files.size.toLong, v.removed.size.toLong,
        v.schemas.keys.toSeq.sorted.mkString(","),
        ts.get(v.batchId).flatten
          .map(m => new java.sql.Timestamp(m)).orNull)
    }
  }
}

/** `GRAFT UPDATE`: [[GraftTable.updateWhere]] as a SQL command. SET
  * expressions and the predicate travel as SQL text for the same
  * resolution reason as [[GraftDeleteCommand]]. */
case class GraftUpdateCommand(root: String, sink: String,
                              set: Seq[(String, String)],
                              predicateSql: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType)(),
    AttributeReference("note", StringType)())
  override def run(spark: SparkSession): Seq[Row] =
    GraftTable.updateWhere(spark, root, sink,
      org.apache.spark.sql.functions.expr(predicateSql),
      set.map { case (c, e) =>
        c -> org.apache.spark.sql.functions.expr(e) }.toMap) match {
      case Some(v) => Seq(Row(v, s"updated matching rows into version $v"))
      case None => Seq(Row(null, "no rows matched"))
    }
}

/** `GRAFT MERGE`: [[GraftTable.merge]] as a SQL command — the source is
  * an arbitrary parenthesized query, executed when the command runs. */
case class GraftMergeCommand(root: String, sink: String,
                             sourceSql: String, keys: Seq[String],
                             update: Boolean, insert: Boolean,
                             deleteWhen: Option[String] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType)(),
    AttributeReference("note", StringType)())
  override def run(spark: SparkSession): Seq[Row] =
    GraftTable.merge(spark, root, sink, spark.sql(sourceSql),
      keys.map(_.stripPrefix("`").stripSuffix("`")),
      updateWhenMatched = update, insertWhenNotMatched = insert,
      deleteWhenMatched =
        deleteWhen.map(org.apache.spark.sql.functions.expr)) match {
      case Some(v) => Seq(Row(v, s"merged into version $v"))
      case None => Seq(Row(null, "merge was a no-op"))
    }
}

/** `GRAFT INDEX BUILD/MERGE/COMPACT`: the persisted index lifecycles as
  * SQL commands, running through exactly the Scala API's code paths
  * (writer lease, generation markers, crash discipline included). The
  * source query executes when the command runs and must carry the
  * index's input columns ((doc_id, text) for the text families). */
case class GraftIndexCommand(verb: String, kind: String, root: String,
                             sourceSql: Option[String],
                             threshold: Option[Double] = None)
    extends LeafRunnableCommand {
  import graft.operators.{DecontamIndex, HnswRouted, IndexStore, IvfIndex,
    MinhashIndex, PqIndex, TermStatsIndex, WinnowIndex}

  override val output: Seq[Attribute] =
    if (verb == "ADMIT") Seq(
      AttributeReference("doc_id", LongType)(),
      AttributeReference("admitted", BooleanType)())
    else if (verb == "STATS") Seq(
      AttributeReference("label", LongType)(),
      AttributeReference("n_build", LongType)(),
      AttributeReference("n_now", LongType)(),
      AttributeReference("mean_d2_build", DoubleType)(),
      AttributeReference("mean_d2_now", DoubleType)(),
      AttributeReference("d2_drift", DoubleType)())
    else Seq(
      AttributeReference("kind", StringType)(),
      AttributeReference("generations", LongType)(),
      AttributeReference("note", StringType)())

  override def run(spark: SparkSession): Seq[Row] = {
    def src = spark.sql(sourceSql.getOrElse(throw new IllegalStateException(
      s"GRAFT INDEX $verb needs a FROM query")))
    // the crawl gate: query-then-merge with frozen decisions — the
    // admitted set is materialized BEFORE the merge inside admit, so
    // the log can't observe the generation it creates. The log is
    // (doc_id, admitted) over the batch: commands surface their result
    // set through the driver (the Delta-MERGE-metrics shape), so this
    // is O(batch ids) — 9 bytes a row; a crawl increment too large for
    // that goes through the Scala admit APIs, whose log stays
    // distributed.
    def admitLog(admit: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): Seq[Row] = {
      import org.apache.spark.sql.functions.{coalesce, col, lit}
      val batch = src
      val admitted = admit(batch)
      batch.select(col("doc_id"))
        .join(admitted.select(col("doc_id"))
          .withColumn("adm", lit(true)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("adm"), lit(false)).as("admitted"))
        .orderBy("doc_id")
        .collect().toSeq
    }
    val stores = Map[String, graft.operators.GenerationStore](
      "MINHASH" -> MinhashIndex, "WINNOW" -> WinnowIndex,
      "TERMS" -> TermStatsIndex, "IVF" -> IvfIndex, "PQ" -> PqIndex,
      "HNSW_ROUTED" -> HnswRouted)
    def generations: Long = scala.util.Try {
      val (hfs, p) = IndexStore.fs(spark, root)
      IndexStore.markedIds(hfs, p, "g").size.toLong
    }.getOrElse(0L)
    (kind, verb) match {
      case ("MINHASH", "ADMIT") =>
        return admitLog(MinhashIndex.admit(_, root))
      case ("WINNOW", "ADMIT") =>
        // same gate, copied-passage flavor: rejection = sharing >=
        // MinSharedFp winnow fingerprints with a landed doc
        return admitLog(WinnowIndex.admit(_, root))
      case (k, "BUILD") if stores.contains(k) => stores(k).build(src, root)
      case (k, "MERGE") if stores.contains(k) => stores(k).merge(src, root)
      case (k @ ("MINHASH" | "WINNOW" | "TERMS" | "IVF" | "HNSW_ROUTED"),
            "COMPACT") => stores(k).compact(spark, root)
      case (k @ ("IVF" | "PQ" | "HNSW_ROUTED"), "VACUUM") =>
        stores(k).vacuum(spark, root)
      // assign-only ingest: bare (vec_id, v) batches, the index
      // assigns cells against its frozen centroids
      case ("IVF", "INGEST") => IvfIndex.ingest(src, root)
      case ("HNSW_ROUTED", "INGEST") => HnswRouted.ingest(src, root)
      case ("DECONTAM", "BUILD") => DecontamIndex.build(src, root)
      case ("DECONTAM", "MERGE") => DecontamIndex.merge(src, root)
      case ("HNSW_ROUTED", "STATS") =>
        // read-only drift observability: O(cells) rows by construction
        return HnswRouted.stats(spark, root).collect().toSeq
      case ("HNSW", "BUILD") | ("HNSW", "MERGE") =>
        if (verb == "BUILD") graft.operators.HnswIndex.build(src, root)
        else graft.operators.HnswIndex.merge(src, root)
        // HNSW versions whole graphs (graph.v<N>), not generations
        val (hfs, pp) = IndexStore.fs(spark, root)
        val vs = IndexStore.markedIds(hfs, pp, "graph.v")
        return Seq(Row(kind, vs.size.toLong,
          s"${verb.toLowerCase} ok (graph v${vs.max})"))
      case ("IVF", "REBUILD") | ("PQ", "REBUILD") =>
        // drift-triggered retrain: a no-op below the threshold, so a
        // scheduled maintenance pass is safe to run unconditionally
        val th = threshold.getOrElse(0.3)
        val (rebuilt, drift) =
          if (kind == "IVF") IvfIndex.rebuildIfDrifted(spark, root, th)
          else PqIndex.rebuildIfDrifted(src, root, th)
        return Seq(Row(kind, generations,
          if (rebuilt) f"rebuilt (drift $drift%.3f >= $th%.3f)"
          else f"skipped (drift $drift%.3f < $th%.3f)"))
      case other => throw new IllegalArgumentException(
        s"GRAFT INDEX: unsupported verb/kind $other")
    }
    Seq(Row(kind, generations, s"${verb.toLowerCase} ok"))
  }
}

/** `GRAFT DELETE`: [[GraftTable.deleteWhere]] as a SQL command. The
  * predicate travels as its SQL text (an unresolved Expression held in
  * the node would trip CheckAnalysis before the command runs — it can
  * only resolve against the sink's frame inside deleteWhere). */
case class GraftDeleteCommand(root: String, sink: String,
                              predicateSql: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType)(),
    AttributeReference("note", StringType)())
  override def run(spark: SparkSession): Seq[Row] =
    GraftTable.deleteWhere(spark, root, sink,
      org.apache.spark.sql.functions.expr(predicateSql)) match {
      case Some(v) => Seq(Row(v, s"rewrote matching files into version $v"))
      case None => Seq(Row(null, "no rows matched"))
    }
}
