package graft.sources

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}

/** S10, second half — the actor reply-line pipeline
  * (`ActorClientSource._handle_reply`, cerebro/sources/tron.py:390-454):
  * reassembled text lines are parsed into `(header, keywords)` replies,
  * each keyword is typed against the actor's keyword dictionary
  * (`KeysDictionary.keys[name].consume(reply_key)`, tron.py:417-433),
  * broadcasts (`commandId == 0`) are dropped unless requested
  * (tron.py:435-436), and the surviving keywords are emitted in exactly
  * the row shape [[graft.transforms.KeywordProcessor.process]] consumes —
  * so the full S10 chain is
  * `StatefulOps.reassembleLines → ActorReplies.parse → KeywordProcessor.process`.
  *
  * ==Reply grammar==
  * One reply per line:
  * {{{
  * <commandId> <userId> <code> key1=v1,v2; key2="quoted, with ; inside"; key3
  * }}}
  * Only `commandId`'s semantics are load-bearing for the reference
  * (0 = unsolicited broadcast, tron.py:435); `userId` and the one-char
  * severity code are carried but unused downstream. Values may be
  * single- or double-quoted (embedded delimiters and `\"` escapes
  * respected); a bare keyword has zero values. A malformed line is
  * dropped, mirroring the reference's warn-and-continue (tron.py:411-413).
  *
  * ==Dictionary typing==
  * The wire carries untyped strings; the DICTIONARY supplies each
  * value's name, units and type ("when parsed the values in reply_key
  * are string; after consuming with the Key, the values become typed",
  * tron.py:424-426). `consume` enforces arity (a PVT consumes three raw
  * values into one position/velocity/time triple) and per-type syntax;
  * an unknown keyword or a failed consume drops that keyword, not the
  * line (tron.py:417-433).
  *
  * Parsing is a per-row `flatMap` over a typed Dataset — a scalar
  * ingest-side transform (the reference ingests tens of lines/sec; even
  * a full replay is I/O-bound), distributed across executors; the
  * analytics hot path stays fully declarative downstream.
  */
object ActorReplies {

  /** A raw line with its receive timestamp (the poller's spool carries
    * recv_time; tests attach one to reassembled lines). */
  final case class ReplyLine(line: String, recv_time: Timestamp)

  /** One typed value of a consumed keyword, in the struct shape of
    * KeywordProcessor's `values` array: `name`/`units` from the
    * dictionary, `value` as the wire string (KeywordProcessor applies
    * numeric/cast policy), `pvt` non-null only for PVT triples. */
  final case class TypedValue(name: String, units: String, value: String, pvt: Array[Double])

  /** KeywordProcessor's input row: one row per keyword update. */
  final case class KeywordRow(actor: String, keyword: String,
      recv_time: Timestamp, values: Seq[TypedValue])

  final case class ReplyHeader(commandId: Long, userId: Long, code: String)
  final case class ParsedKeyword(name: String, values: Seq[String])
  final case class Reply(header: ReplyHeader, keywords: Seq[ParsedKeyword])

  // ---------------------------------------------------------------- parser

  private val HeaderRe = """^\s*(\d+)\s+(\d+)\s+([A-Za-z:>!])\s*(.*)$""".r
  // hot-path patterns precompiled once: String.matches recompiles the
  // regex on EVERY call, and these run per keyword per line
  private val NameRe = java.util.regex.Pattern.compile("""[A-Za-z_][A-Za-z0-9_.]*""")
  private val FloatRe = java.util.regex.Pattern.compile("""[+-]?([0-9]*\.)?[0-9]+([eE][+-]?[0-9]+)?|NaN""")
  private val PvtFloatRe = java.util.regex.Pattern.compile("""[+-]?([0-9]*\.)?[0-9]+([eE][+-]?[0-9]+)?""")
  private val IntRe = java.util.regex.Pattern.compile("""[+-]?[0-9]+""")

  /** Parse one reply line; `None` on malformed input (warn-and-continue
    * at the call site, tron.py:411-413). */
  def parseLine(line: String): Option[Reply] = line match {
    case HeaderRe(cmdId, userId, code, rest) =>
      try Some(Reply(ReplyHeader(cmdId.toLong, userId.toLong, code), parseKeywords(rest)))
      catch { case _: IllegalArgumentException => None }
    case _ => None
  }

  /** Split the keyword section on `;` outside quotes, then each clause
    * into `name[=v1,v2,...]` with `,` split outside quotes. */
  private[sources] def parseKeywords(s: String): Seq[ParsedKeyword] =
    splitOutsideQuotes(s, ';').flatMap { clause =>
      val c = clause.trim
      if (c.isEmpty) None
      else {
        val eq = indexOfOutsideQuotes(c, '=')
        if (eq < 0) {
          if (!NameRe.matcher(c).matches()) throw new IllegalArgumentException(c)
          Some(ParsedKeyword(c, Nil))
        } else {
          val name = c.substring(0, eq).trim
          if (!NameRe.matcher(name).matches()) throw new IllegalArgumentException(name)
          val values = splitOutsideQuotes(c.substring(eq + 1), ',').map(v => unquote(v.trim))
          Some(ParsedKeyword(name, values))
        }
      }
    }

  private def splitOutsideQuotes(s: String, sep: Char): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var quote: Char = 0
    var escaped = false
    s.foreach { ch =>
      if (escaped) { cur += ch; escaped = false }
      else if (quote != 0 && ch == '\\') { cur += ch; escaped = true }
      else if (quote != 0) { cur += ch; if (ch == quote) quote = 0 }
      else if (ch == '"' || ch == '\'') { cur += ch; quote = ch }
      else if (ch == sep) { out += cur.result(); cur.clear() }
      else cur += ch
    }
    if (quote != 0) throw new IllegalArgumentException(s"unterminated quote in: $s")
    out += cur.result()
    out.toSeq
  }

  private def indexOfOutsideQuotes(s: String, target: Char): Int = {
    var quote: Char = 0
    var escaped = false
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (escaped) escaped = false
      else if (quote != 0 && ch == '\\') escaped = true
      else if (quote != 0) { if (ch == quote) quote = 0 }
      else if (ch == '"' || ch == '\'') quote = ch
      else if (ch == target) return i
      i += 1
    }
    -1
  }

  private def unquote(v: String): String =
    if (v.length >= 2 && (v.head == '"' || v.head == '\'') && v.last == v.head)
      v.substring(1, v.length - 1).replace("\\" + v.head, v.head.toString).replace("\\\\", "\\")
    else v

  // ---------------------------------------------- keyword dictionary (consume)

  /** One declared value slot of a dictionary key. `PvtType` consumes
    * THREE raw wire values into one (position, velocity, time) triple —
    * the arity rule `consume` enforces. */
  sealed trait KeyType extends Serializable {
    def name: String
    def units: String
    /** raw wire values consumed by this slot */
    def arity: Int = 1
    /** whether the raw values are syntactically valid for this type */
    def accepts(raw: Seq[String]): Boolean
  }
  final case class FloatType(name: String = "", units: String = "") extends KeyType {
    def accepts(raw: Seq[String]): Boolean =
      FloatRe.matcher(raw.head).matches()
  }
  final case class IntType(name: String = "", units: String = "") extends KeyType {
    def accepts(raw: Seq[String]): Boolean = IntRe.matcher(raw.head).matches()
  }
  final case class StringType(name: String = "", units: String = "") extends KeyType {
    def accepts(raw: Seq[String]): Boolean = true
  }
  final case class BoolType(name: String = "", units: String = "") extends KeyType {
    def accepts(raw: Seq[String]): Boolean =
      BoolType.Literals.contains(raw.head.toLowerCase)
  }
  object BoolType {
    private val Literals = Set("t", "f", "true", "false", "0", "1")
  }
  final case class PvtType(name: String = "", units: String = "") extends KeyType {
    override def arity: Int = 3
    def accepts(raw: Seq[String]): Boolean =
      raw.forall(v => PvtFloatRe.matcher(v).matches())
  }

  /** A dictionary key: ordered typed slots. */
  final case class KeyDef(types: Seq[KeyType]) extends Serializable {
    /** Type a parsed keyword's raw values; `None` = consume failure
      * (arity or syntax mismatch — the keyword is dropped with a
      * warning in the reference, tron.py:428-433). */
    def consume(raw: Seq[String]): Option[Seq[TypedValue]] = {
      // no `return` inside the loop: in a closure that would compile to a
      // NonLocalReturnControl throw (see Supervised.loop)
      if (raw.length != types.map(_.arity).sum) None
      else {
        var i = 0
        var failed = false
        val out = Seq.newBuilder[TypedValue]
        val it = types.iterator
        while (!failed && it.hasNext) {
          val t = it.next()
          val slice = raw.slice(i, i + t.arity)
          i += t.arity
          if (!t.accepts(slice)) failed = true
          else out += (t match {
            case _: PvtType => TypedValue(t.name, t.units, null, slice.map(_.toDouble).toArray)
            case _ => TypedValue(t.name, t.units, slice.head, null)
          })
        }
        if (failed) None else Some(out.result())
      }
    }
  }

  /** Per-actor keyword dictionary; lookup is case-insensitive
    * (tron.py:416-417 lowercases before the membership test). */
  final case class KeysDictionary(actor: String, keys: Map[String, KeyDef]) extends Serializable {
    private val lower = keys.map { case (k, v) => k.toLowerCase -> v }
    def get(name: String): Option[KeyDef] = lower.get(name.toLowerCase)
  }

  // ------------------------------------------------------------------ bridge

  /** Lines → typed keyword rows, ready for `KeywordProcessor.process`.
    * Distributed flatMap; unknown keywords, consume failures, malformed
    * lines, and (unless `storeBroadcasts`) broadcast replies are dropped
    * row-locally, exactly like the reference's warn-and-continue loop
    * (tron.py:406-438). */
  def parse(lines: Dataset[ReplyLine], dict: KeysDictionary,
      storeBroadcasts: Boolean = false): Dataset[KeywordRow] = {
    implicit val enc = Encoders.product[KeywordRow]
    val actor = dict.actor
    lines.flatMap { rl =>
      parseLine(rl.line).toSeq.flatMap { reply =>
        if (reply.header.commandId == 0 && !storeBroadcasts) Nil
        else reply.keywords.flatMap { kw =>
          dict.get(kw.name).flatMap(_.consume(kw.values)).map { typed =>
            KeywordRow(actor, kw.name, rl.recv_time, typed)
          }
        }
      }
    }
  }

  /** Convenience: the parsed rows as a DataFrame in KeywordProcessor's
    * exact input schema. `KeywordProcessor.process` is window-free
    * (array-domain derivation), so the whole chain — this, then
    * `process` — runs as one continuous streaming pipeline; no
    * `foreachBatch` needed (ActorRepliesSpec asserts it end-to-end). */
  def parseToDF(lines: Dataset[ReplyLine], dict: KeysDictionary,
      storeBroadcasts: Boolean = false): DataFrame =
    parse(lines, dict, storeBroadcasts).toDF()
}
