package graft.jsonld

import java.util.regex.{Matcher, Pattern}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Turtle parser and serializer, ported from the reference:
  *
  *  - parser: /root/reference/src/json-ld.net/Impl/TurtleRDFParser.cs:14-733
  *    (cursor/regex state machine; regex kernel Core/Regex.cs:1-95)
  *  - serializer: /root/reference/src/json-ld.net/Impl/TurtleTripleCallback.cs:8-435
  *
  * Registered as `text/turtle` in the parser registry
  * (Core/JsonLdProcessor.cs:284-315) and in the toRDF sink dispatch
  * (Core/JsonLdProcessor.cs:443-455).
  *
  * Regex quirks are preserved byte-for-byte — including PN_CHARS_BASE's
  * trailing empty alternative (Core/Regex.cs:10-12) and SPARQL-style
  * directives accepting exactly ONE whitespace char (TurtleRDFParser.cs:27-33
  * uses Ws, not Ws1N) — because they shape which documents parse.
  *
  * Documented divergences from the reference (both unexercised by its
  * test suite, which only ever PARSES Turtle — NQuadsParserTests.cs:74,87):
  *
  *  1. The reference serializer inherits a Sharpen translation bug: Java
  *     `iterator.hasNext()` became C# `MoveNext()` (which ADVANCES), so
  *     TurtleTripleCallback.cs:303-310/351-369 silently drop every second
  *     subject/predicate/object. We implement the Java-original lookahead
  *     semantics (emit everything).
  *  2. The reference serializer collects `usedNamespaces` in an unordered
  *     HashSet (TurtleTripleCallback.cs:27); we use insertion order so
  *     the @prefix header is deterministic.
  *  3. A top-level `[` / `(` subject calls State.Push() while curSubject
  *     is null, which in C# throws ArgumentNullException from
  *     Dictionary[null] (TurtleRDFParser.cs:126-146); we allow the null
  *     and parse the statement instead of crashing.
  *  4. PN_CHARS_BASE: the reference's empty trailing alternative (a
  *     dropped supplementary-plane class) breaks digit-bearing pname
  *     locals and `_:label` subjects; we restore jsonld-java's original
  *     class — see the comment at R.PnCharsBase.
  */
object Turtle {

  // ------------------------------------------------------------------
  // Shared regex kernel — Core/Regex.cs:10-95, composed verbatim.
  // ------------------------------------------------------------------
  private[jsonld] object R {
    // DOCUMENTED DIVERGENCE (#4): the reference's PN_CHARS_BASE ends with
    // a trailing '|' — an EMPTY alternative (Core/Regex.cs:10-12) — where
    // its upstream (jsonld-java) has "[\x{10000}-\x{EFFFF}]"; the .NET
    // port dropped the supplementary-plane class (no \x{} syntax in .NET,
    // see the leftover comment at Core/Regex.cs:89-93) and left the bar.
    // The empty alternative makes PN_CHARS match "" eagerly, so the
    // reference cannot parse digit-bearing prefixed-name locals (ex:o2)
    // or `_:label` subjects (the empty PN_PREFIX turns "_:x" into a
    // prefixed name with undeclared prefix "_"). Its own test suite never
    // exercises either. We restore the Java-original alternative (Java
    // regex supports \x{...}), recovering jsonld-java semantics.
    val PnCharsBase: String =
      "[a-zA-Z]|[\\u00C0-\\u00D6]|[\\u00D8-\\u00F6]|[\\u00F8-\\u02FF]|[\\u0370-\\u037D]|[\\u037F-\\u1FFF]|" +
        "[\\u200C-\\u200D]|[\\u2070-\\u218F]|[\\u2C00-\\u2FEF]|[\\u3001-\\uD7FF]|[\\uF900-\\uFDCF]|[\\uFDF0-\\uFFFD]|" +
        "[\\x{10000}-\\x{EFFFF}]"
    val PnCharsU: String = PnCharsBase + "|[_]"
    val PnChars: String = PnCharsU + "|[-0-9]|[\\u00B7]|[\\u0300-\\u036F]|[\\u203F-\\u2040]"
    val PnPrefix: String =
      "(?:(?:" + PnCharsBase + ")(?:(?:" + PnChars + "|[\\.])*(?:" + PnChars + "))?)"
    val Hex = "[0-9A-Fa-f]"
    val PnLocalEsc = "[\\\\][_~\\.\\-!$&'\\(\\)*+,;=/?#@%]"
    val Percent: String = "%" + Hex + Hex
    val Plx: String = Percent + "|" + PnLocalEsc
    val PnLocal: String = "((?:" + PnCharsU + "|[:]|[0-9]|" + Plx + ")(?:(?:" + PnChars +
      "|[.]|[:]|" + Plx + ")*(?:" + PnChars + "|[:]|" + Plx + "))?)"
    val PnameNs: String = "((?:" + PnPrefix + ")?):"
    val PnameLn: String = PnameNs + PnLocal
    val Uchar: String = "\\u005Cu" + Hex + Hex + Hex + Hex +
      "|\\u005CU" + Hex + Hex + Hex + Hex + Hex + Hex + Hex + Hex
    val Echar = "\\u005C[tbnrf\\u005C\"']"
    val Iriref: String = "(?:<((?:[^\\x00-\\x20<>\"{}|\\^`\\\\]|" + Uchar + ")*)>)"
    val BlankNodeLabel: String = "(?:_:((?:" + PnCharsU + "|[0-9])(?:(?:" + PnChars +
      "|[\\.])*(?:" + PnChars + "))?))"
    val Ws = "[ \t\r\n]"
    val Ws0N: String = Ws + "*"
    val Ws1N: String = Ws + "+"
    val StringLiteralQuote: String =
      "\"(?:[^\\u0022\\u005C\\u000A\\u000D]|(?:" + Echar + ")|(?:" + Uchar + "))*\""
    val StringLiteralSingleQuote: String =
      "'(?:[^\\u0027\\u005C\\u000A\\u000D]|(?:" + Echar + ")|(?:" + Uchar + "))*'"
    val StringLiteralLongSingleQuote: String =
      "'''(?:(?:(?:'|'')?[^'\\\\])|" + Echar + "|" + Uchar + ")*'''"
    val StringLiteralLongQuote: String =
      "\"\"\"(?:(?:(?:\"|\"\")?[^\\\"\\\\])|" + Echar + "|" + Uchar + ")*\"\"\""
    val Langtag = "(?:@([a-zA-Z]+(?:-[a-zA-Z0-9]+)*))"
    val IntegerP = "[+-]?[0-9]+"
    val DecimalP = "[+-]?[0-9]*\\.[0-9]+"
    val Exponent = "[eE][+-]?[0-9]+"
    val DoubleP: String = "[+-]?(?:(?:[0-9]+\\.[0-9]*" + Exponent + ")|(?:\\.[0-9]+" +
      Exponent + ")|(?:[0-9]+" + Exponent + "))"
  }

  // ------------------------------------------------------------------
  // Turtle-level patterns — TurtleRDFParser.cs:17-88. Group numbering is
  // load-bearing: the state machine dispatches on group indexes.
  // ------------------------------------------------------------------
  private[jsonld] object P {
    import R._
    val PrefixId: String = "@prefix" + Ws1N + PnameNs + Ws1N + Iriref + Ws0N + "\\." + Ws0N
    val BaseDir: String = "@base" + Ws1N + Iriref + Ws0N + "\\." + Ws0N
    val SparqlPrefix: String = "[Pp][Rr][Ee][Ff][Ii][Xx]" + Ws + PnameNs + Ws + Iriref + Ws0N
    val SparqlBase: String = "[Bb][Aa][Ss][Ee]" + Ws + Iriref + Ws0N
    val PrefixedName: String = "(?:" + PnameLn + "|" + PnameNs + ")"
    val Iri: String = "(?:" + Iriref + "|" + PrefixedName + ")"
    val Anon: String = "(?:\\[" + Ws + "*\\])"
    val BlankNode: String = BlankNodeLabel + "|" + Anon
    val StringP: String = "(" + StringLiteralLongSingleQuote + "|" + StringLiteralLongQuote +
      "|" + StringLiteralQuote + "|" + StringLiteralSingleQuote + ")"
    val BooleanLiteral = "(true|false)"
    val RdfLiteral: String = StringP + "(?:" + Langtag + "|\\^\\^" + Iri + ")?"
    val NumericLiteral: String = "(" + DoubleP + ")|(" + DecimalP + ")|(" + IntegerP + ")"
    val Literal: String = RdfLiteral + "|" + NumericLiteral + "|" + BooleanLiteral

    val Directive: Pattern =
      Pattern.compile("^(?:" + PrefixId + "|" + BaseDir + "|" + SparqlPrefix + "|" + SparqlBase + ")")
    // NOTE: the '^' anchors only the first alternative — reference quirk
    val Subject: Pattern = Pattern.compile("^" + Iri + "|" + BlankNode)
    val Predicate: Pattern = Pattern.compile("^" + Iri + "|a" + Ws1N)
    val ObjectP: Pattern = Pattern.compile("^" + Iri + "|" + BlankNode + "|" + Literal)
    val Eoln = "(?:\r\n)|(?:\n)|(?:\r)"
    val NextEoln: Pattern = Pattern.compile("^.*(?:" + Eoln + ")" + Ws0N)
    val CommentOrWs: Pattern =
      Pattern.compile("^(?:(?:[#].*(?:" + Eoln + ")" + Ws0N + ")|(?:" + Ws1N + "))")
    val IrirefMinusContainer: Pattern =
      Pattern.compile("(?:(?:[^\\x00-\\x20<>\"{}|\\^`\\\\]|" + R.Uchar + ")*)|" + PrefixedName)
    val PnLocalEscMatched: Pattern = Pattern.compile("[\\\\]([_~\\.\\-!$&'\\(\\)*+,;=/?#@%])")
  }

  // ------------------------------------------------------------------
  // Parser — TurtleRDFParser.cs:90-733
  // ------------------------------------------------------------------

  /** Mutable cursor state (TurtleRDFParser.cs:90-236). */
  private final class State(input: String) {
    var baseIri: String = ""
    val namespaces: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
    var curSubject: String = _
    var curPredicate: String = _
    var line: String = input
    var lineNumber: Int = 1
    var linePosition: Int = 0
    val namer = new UniqueNamer("_:b")
    private var stack: List[(String, String)] = Nil
    var expectingBnodeClose = false

    advanceLinePosition(0)

    def push(): Unit = {
      stack = (curSubject, curPredicate) :: stack
      expectingBnodeClose = true
      curSubject = null
      curPredicate = null
    }

    def pop(): Unit = {
      stack match {
        case (s, p) :: rest =>
          curSubject = s
          curPredicate = p
          stack = rest
        case Nil =>
      }
      if (stack.isEmpty) expectingBnodeClose = false
    }

    def advanceLinePosition(len: Int): Unit = {
      if (len > 0) {
        linePosition += len
        line = line.substring(len)
      }
      var continueClearing = true
      while (line.nonEmpty && continueClearing) {
        val m = P.CommentOrWs.matcher(line)
        if (m.find() && m.group(0).nonEmpty) {
          val eoln = Pattern.compile(P.Eoln).matcher(m.group(0))
          var end = 0
          while (eoln.find()) {
            lineNumber += 1
            end = eoln.end()
          }
          linePosition = m.group(0).length - end
          line = line.substring(m.group(0).length)
        } else continueClearing = false
      }
      if (line.isEmpty && !endIsOK)
        throw new JsonLdError(JsonLdError.ParseError,
          s"Error while parsing Turtle; unexpected end of input. {line: $lineNumber, position:$linePosition}")
    }

    private def endIsOK: Boolean = curSubject == null && stack.isEmpty

    def expandIRI(ns: String, name: String): String =
      namespaces.get(ns) match {
        case Some(iri) => iri + name
        case None =>
          throw new JsonLdError(JsonLdError.ParseError,
            s"No prefix found for: $ns {line: $lineNumber, position:$linePosition}")
      }
  }

  /** TurtleRDFParser.cs:701-714. */
  private[jsonld] def unescapeReserved(str: String): String = {
    if (str != null) {
      val m = P.PnLocalEscMatched.matcher(str)
      if (m.find()) return m.replaceAll("$1")
    }
    str
  }

  /** TurtleRDFParser.cs:716-731. */
  private def unquoteString(value: String): String =
    if (value.startsWith("\"\"\"") || value.startsWith("'''"))
      value.substring(3, value.length - 3)
    else if (value.startsWith("\"") || value.startsWith("'"))
      value.substring(1, value.length - 1)
    else value

  /** TurtleRDFParser.cs:689-699. */
  private def validateIRI(state: State, iri: String): Unit =
    if (!P.IrirefMinusContainer.matcher(iri).matches())
      throw new JsonLdError(JsonLdError.ParseError,
        s"Error while parsing Turtle; invalid IRI after escaping. {line: ${state.lineNumber}, position:${state.linePosition}}")

  /** Parse a Turtle document into an RdfDataset
    * (TurtleRDFParser.Parse, TurtleRDFParser.cs:238-686). */
  def parse(input: String): RdfDataset = {
    val result = new RdfDataset
    // strip a single UTF-8 BOM like the .NET text readers would
    val src = if (input.nonEmpty && input.charAt(0) == '﻿') input.substring(1) else input
    val state = new State(src)

    // one iteration of the reference's while-loop body; `return` = continue
    def step(): Unit = {
      var m: Matcher = P.Directive.matcher(state.line)
      if (m.find()) {
        if (m.group(1) != null || m.group(4) != null) {
          val ns = if (m.group(1) != null) m.group(1) else m.group(4)
          var iri = if (m.group(1) != null) m.group(2) else m.group(5)
          if (!iri.contains(":")) iri = state.baseIri + iri
          iri = NQuads.unescape(iri)
          validateIRI(state, iri)
          state.namespaces.put(ns, iri)
          result.setNamespace(ns, iri)
        } else {
          var base = if (m.group(3) != null) m.group(3) else m.group(6)
          base = NQuads.unescape(base)
          validateIRI(state, base)
          if (!base.contains(":")) state.baseIri = state.baseIri + base
          else state.baseIri = base
        }
        state.advanceLinePosition(m.group(0).length)
        return
      }

      if (state.curSubject == null) {
        m = P.Subject.matcher(state.line)
        if (m.find()) {
          var iri: String = null
          if (m.group(1) != null) {
            iri = NQuads.unescape(m.group(1))
            if (!iri.contains(":")) iri = state.baseIri + iri
          } else if (m.group(2) != null) {
            iri = state.expandIRI(m.group(2), unescapeReserved(m.group(3)))
          } else if (m.group(4) != null) {
            iri = state.expandIRI(m.group(4), "")
          } else if (m.group(5) != null) {
            iri = state.namer.getName(m.group(0).trim)
          } else {
            iri = state.namer.getName()
          }
          validateIRI(state, iri)
          state.curSubject = iri
          state.advanceLinePosition(m.group(0).length)
        } else if (state.line.startsWith("[")) {
          val bnode = state.namer.getName()
          state.advanceLinePosition(1)
          state.push()
          state.curSubject = bnode
        } else if (state.line.startsWith("(")) {
          val bnode = state.namer.getName()
          state.curSubject = bnode
          state.advanceLinePosition(1)
          state.push()
          state.curSubject = bnode
          state.curPredicate = JsonLdConsts.RdfFirst
        } else {
          throw new JsonLdError(JsonLdError.ParseError,
            s"Error while parsing Turtle; missing expected subject. {line: ${state.lineNumber}position: ${state.linePosition}}")
        }
      }

      if (state.curPredicate == null) {
        m = P.Predicate.matcher(state.line)
        if (m.find()) {
          var iri = ""
          if (m.group(1) != null) {
            iri = NQuads.unescape(m.group(1))
            if (!iri.contains(":")) iri = state.baseIri + iri
          } else if (m.group(2) != null) {
            iri = state.expandIRI(m.group(2), unescapeReserved(m.group(3)))
          } else if (m.group(4) != null) {
            iri = state.expandIRI(m.group(4), "")
          } else {
            iri = JsonLdConsts.RdfType
          }
          validateIRI(state, iri)
          state.curPredicate = iri
          state.advanceLinePosition(m.group(0).length)
        } else {
          throw new JsonLdError(JsonLdError.ParseError,
            s"Error while parsing Turtle; missing expected predicate. {line: ${state.lineNumber}position: ${state.linePosition}}")
        }
      }

      // expecting bnode or object
      if (state.line.startsWith("[")) {
        val bnode = state.namer.getName()
        result.addTriple(state.curSubject, state.curPredicate, bnode)
        state.advanceLinePosition(1)
        if (state.line.startsWith("]")) {
          state.advanceLinePosition(1)
        } else {
          state.push()
          state.curSubject = bnode
          return // next we expect a predicate
        }
      } else if (state.line.startsWith("(")) {
        state.advanceLinePosition(1)
        if (state.line.startsWith(")")) {
          state.advanceLinePosition(1)
          result.addTriple(state.curSubject, state.curPredicate, JsonLdConsts.RdfNil)
        } else {
          val bnode = state.namer.getName()
          result.addTriple(state.curSubject, state.curPredicate, bnode)
          state.push()
          state.curSubject = bnode
          state.curPredicate = JsonLdConsts.RdfFirst
          return
        }
      } else {
        m = P.ObjectP.matcher(state.line)
        if (m.find()) {
          var iri: String = null
          if (m.group(1) != null) {
            iri = NQuads.unescape(m.group(1))
            if (!iri.contains(":")) iri = state.baseIri + iri
          } else if (m.group(2) != null) {
            iri = state.expandIRI(m.group(2), unescapeReserved(m.group(3)))
          } else if (m.group(4) != null) {
            iri = state.expandIRI(m.group(4), "")
          } else if (m.group(5) != null) {
            iri = state.namer.getName(m.group(0).trim)
          }
          if (iri != null) {
            validateIRI(state, iri)
            result.addTriple(state.curSubject, state.curPredicate, iri)
          } else {
            // literal
            var value = m.group(6)
            var lang: String = null
            var datatype: String = null
            if (value != null) {
              value = unquoteString(value)
              value = NQuads.unescape(value)
              lang = m.group(7)
              if (lang == null) {
                if (m.group(8) != null) {
                  datatype = NQuads.unescape(m.group(8))
                  if (!datatype.contains(":")) datatype = state.baseIri + datatype
                  validateIRI(state, datatype)
                } else if (m.group(9) != null) {
                  datatype = state.expandIRI(m.group(9), unescapeReserved(m.group(10)))
                } else if (m.group(11) != null) {
                  datatype = state.expandIRI(m.group(11), "")
                }
              } else {
                datatype = JsonLdConsts.RdfLangstring
              }
            } else if (m.group(12) != null) {
              value = m.group(12)
              datatype = JsonLdConsts.XsdDouble
            } else if (m.group(13) != null) {
              value = m.group(13)
              datatype = JsonLdConsts.XsdDecimal
            } else if (m.group(14) != null) {
              value = m.group(14)
              datatype = JsonLdConsts.XsdInteger
            } else if (m.group(15) != null) {
              value = m.group(15)
              datatype = JsonLdConsts.XsdBoolean
            }
            result.addTriple(state.curSubject, state.curPredicate, value, datatype, lang)
          }
          state.advanceLinePosition(m.group(0).length)
        } else {
          throw new JsonLdError(JsonLdError.ParseError,
            s"Error while parsing Turtle; missing expected object or blank node. {line: ${state.lineNumber}position: ${state.linePosition}}")
        }
      }

      // close collection
      var collectionClosed = false
      while (state.line.startsWith(")")) {
        if (JsonLdConsts.RdfFirst != state.curPredicate)
          throw new JsonLdError(JsonLdError.ParseError,
            s"Error while parsing Turtle; unexpected ). {line: ${state.lineNumber}position: ${state.linePosition}}")
        result.addTriple(state.curSubject, JsonLdConsts.RdfRest, JsonLdConsts.RdfNil)
        state.pop()
        state.advanceLinePosition(1)
        collectionClosed = true
      }

      var expectDotOrPred = false
      if (state.line.startsWith("]")) {
        val bnode = state.curSubject
        state.pop()
        state.advanceLinePosition(1)
        if (state.curSubject == null) {
          // bnode as subject; expect either a . or a predicate
          state.curSubject = bnode
          expectDotOrPred = true
        }
      }
      if (!expectDotOrPred && state.line.startsWith(",")) {
        state.advanceLinePosition(1)
        return // now we expect another object/bnode
      }
      if (!expectDotOrPred) {
        while (state.line.startsWith(";")) {
          state.curPredicate = null
          state.advanceLinePosition(1)
          expectDotOrPred = true
        }
      }
      if (state.line.startsWith(".")) {
        if (state.expectingBnodeClose)
          throw new JsonLdError(JsonLdError.ParseError,
            s"""Error while parsing Turtle; missing expected )"]". {line: ${state.lineNumber}position: ${state.linePosition}}""")
        state.curSubject = null
        state.curPredicate = null
        state.advanceLinePosition(1)
        return
      } else if (expectDotOrPred) {
        return // expecting another predicate since we didn't find a dot
      }
      if (JsonLdConsts.RdfFirst == state.curPredicate) {
        val bnode = state.namer.getName()
        result.addTriple(state.curSubject, JsonLdConsts.RdfRest, bnode)
        state.curSubject = bnode
        return
      }
      if (collectionClosed) {
        return // we expect another object
      }
      throw new JsonLdError(JsonLdError.ParseError,
        s"""Error while parsing Turtle; missing expected "]" "," ";" or ".". {line: ${state.lineNumber}position: ${state.linePosition}}""")
    }

    while (state.line.nonEmpty) step()
    result
  }

  // ------------------------------------------------------------------
  // Serializer — TurtleTripleCallback.cs:8-435 (with the Sharpen
  // iterator bug fixed; see the object Scaladoc).
  // ------------------------------------------------------------------

  private val MaxLineLength = 160
  private val TabSpaces = 4
  private val ColsKey = "..cols.." // not a valid iri/bnode (reference comment)

  /** One serialized subject: predicate -> objects. Objects are String
    * (IRI/bnode id), RdfLiteral, TtlSubj (embedded bnode), or
    * ArrayBuffer[Any] (a collection). */
  private type TtlSubj = mutable.LinkedHashMap[String, ArrayBuffer[Any]]

  final class Writer {
    private val availableNamespaces = mutable.LinkedHashMap.empty[String, String] // iri -> prefix
    private val usedNamespaces = mutable.LinkedHashSet.empty[String]

    def call(dataset: RdfDataset): String = {
      dataset.getNamespaces.foreach { case (prefix, iri) =>
        availableNamespaces.put(iri, prefix)
      }
      usedNamespaces.clear()
      // refs: bnode id -> list of predicate arrays that reference it
      val refs = mutable.LinkedHashMap.empty[String, ArrayBuffer[ArrayBuffer[Any]]]
      val ttl = mutable.LinkedHashMap.empty[String, TtlSubj]

      dataset.graphNames.foreach { graphName =>
        val triples = dataset.getQuads(graphName)
        // (the reference likewise ignores graph names in Turtle output)
        var prevSubject = ""
        var prevPredicate = ""
        var thisSubject: TtlSubj = null
        var thisPredicate: ArrayBuffer[Any] = null
        triples.foreach { triple =>
          val subject = triple.subject.value
          val predicate = triple.predicate.value
          if (prevSubject == subject) {
            if (prevPredicate == predicate) {
              // nothing to do
            } else {
              thisPredicate = thisSubject.getOrElseUpdate(predicate, new ArrayBuffer[Any])
              prevPredicate = predicate
            }
          } else {
            thisSubject = ttl.getOrElseUpdate(subject, mutable.LinkedHashMap.empty)
            thisPredicate = thisSubject.getOrElseUpdate(predicate, new ArrayBuffer[Any])
            prevSubject = subject
            prevPredicate = predicate
          }
          if (triple.obj.isLiteral) {
            thisPredicate += triple.obj
          } else {
            val o = triple.obj.value
            if (o.startsWith("_:"))
              refs.getOrElseUpdate(o, new ArrayBuffer) += thisPredicate
            thisPredicate += o
          }
        }
      }

      // find collections (TurtleTripleCallback.cs:137-176)
      val collections = mutable.LinkedHashMap.empty[String, ArrayBuffer[Any]]
      ttl.keys.toVector.foreach { subj =>
        var preds = ttl.getOrElse(subj, null)
        if (preds != null && preds.contains(JsonLdConsts.RdfFirst)) {
          val col = new ArrayBuffer[Any]
          collections.put(subj, col)
          var done = false
          while (!done) {
            val first = preds.remove(JsonLdConsts.RdfFirst).get
            val o = first(0)
            col += o
            o match {
              case id: String if refs.contains(id) =>
                val r = refs(id)
                val i = r.indexWhere(_ eq first)
                if (i >= 0) r.remove(i)
                r += col
              case _ =>
            }
            val next = preds.remove(JsonLdConsts.RdfRest).get(0).asInstanceOf[String]
            if (JsonLdConsts.RdfNil == next) {
              done = true
            } else if (collections.contains(next)) {
              col ++= collections.remove(next).get
              done = true
            } else {
              preds = ttl.remove(next).orNull
              refs.remove(next)
            }
          }
        }
      }

      // nest bnodes referenced exactly once (TurtleTripleCallback.cs:178-202).
      // A bnode referenced once but never a subject (e.g. toRDF of an empty
      // embedded node object emits `s p _:b0` and no `_:b0` triples) has no
      // ttl entry; leave its label string in place — replacing it with null
      // would crash generateObject with a MatchError (ADVICE.md round 2).
      refs.keys.toVector.foreach { id =>
        val r = refs(id)
        if (r.length == 1) {
          var obj: Any = ttl.remove(id).orNull
          if (collections.contains(id)) {
            val wrap: TtlSubj = mutable.LinkedHashMap.empty
            wrap.put(ColsKey, ArrayBuffer[Any](collections.remove(id).get))
            obj = wrap
          }
          if (obj != null) {
            val predicate = r(0)
            val at = predicate.lastIndexOf(id)
            if (at >= 0) predicate(at) = obj
          }
        }
      }
      // surviving collections attach to their subject under ColsKey
      collections.keys.toVector.foreach { id =>
        val subj = ttl(id)
        subj.getOrElseUpdate(ColsKey, new ArrayBuffer) += collections(id)
      }

      val output = generateTurtle(ttl, 0, 0, isObject = false)
      val prefixes = usedNamespaces.map { iri =>
        s"@prefix ${availableNamespaces(iri)}: <$iri> .\n"
      }.mkString
      (if (prefixes.isEmpty) "" else prefixes + "\n") + output
    }

    private def tabs(n: Int): String = "    " * n

    private def getURI(uri: String): String = {
      if (uri.startsWith("_:")) return uri
      availableNamespaces.keys.foreach { prefix =>
        if (uri.startsWith(prefix)) {
          usedNamespaces += prefix
          return availableNamespaces(prefix) + ":" + uri.substring(prefix.length)
        }
      }
      "<" + uri + ">"
    }

    private def generateObject(obj0: Any, sep: String, hasNext: Boolean,
                               indentation: Int, lineLength0: Int): String = {
      var lineLength = lineLength0
      var rval = ""
      val obj: String = obj0 match {
        case s: String => getURI(s)
        case lit: RdfLiteral =>
          var o = lit.value
          val lang = lit.language
          val dt = lit.datatype
          if (lang != null) {
            o = "\"" + o + "\"@" + lang
          } else if (dt != null) {
            if (!(JsonLdConsts.XsdDouble == dt || JsonLdConsts.XsdInteger == dt ||
                  JsonLdConsts.XsdFloat == dt || JsonLdConsts.XsdBoolean == dt)) {
              o = "\"" + o + "\""
              if (JsonLdConsts.XsdString != dt) o += "^^" + getURI(dt)
            }
          } else {
            o = "\"" + o + "\""
          }
          o
        case nested: TtlSubj @unchecked =>
          val tmp = mutable.LinkedHashMap.empty[String, TtlSubj]
          tmp.put("_:x", nested)
          generateTurtle(tmp, indentation + 1, lineLength, isObject = true)
      }
      val idxofcr = obj.indexOf("\n")
      if ((if (hasNext) 1 else 0) + lineLength +
          (if (idxofcr != -1) idxofcr else obj.length) > MaxLineLength) {
        rval += "\n" + tabs(indentation + 1)
        lineLength = (indentation + 1) * TabSpaces
      }
      rval += obj
      if (idxofcr != -1) lineLength += obj.length - obj.lastIndexOf("\n")
      else lineLength += obj.length
      if (hasNext) {
        rval += sep
        lineLength += sep.length
        if (lineLength < MaxLineLength) rval += " "
        else rval += "\n"
      }
      rval
    }

    private def generateTurtle(ttl: mutable.LinkedHashMap[String, TtlSubj],
                               indentation: Int, lineLength0: Int,
                               isObject: Boolean): String = {
      var lineLength = lineLength0
      var rval = ""
      val subjects = ttl.keys.toVector
      subjects.zipWithIndex.foreach { case (subject, si) =>
        val subjval = ttl(subject)
        var hasOpenBnodeBracket = false
        if (subject.startsWith("_:")) {
          if (!subjval.contains(ColsKey)) {
            rval += "[ "
            lineLength += 2
            hasOpenBnodeBracket = true
          }
          if (subjval.contains(ColsKey)) {
            val cols = subjval.remove(ColsKey).get
            cols.foreach { collection =>
              rval += "( "
              lineLength += 2
              val items = collection.asInstanceOf[ArrayBuffer[Any]]
              items.zipWithIndex.foreach { case (obj, oi) =>
                rval += generateObject(obj, "", oi < items.length - 1, indentation, lineLength)
                lineLength = rval.length - rval.lastIndexOf("\n")
              }
              rval += " ) "
              lineLength += 3
            }
          }
        } else {
          rval += getURI(subject) + " "
          lineLength += subject.length + 1
        }
        val preds = subjval.keys.toVector
        preds.zipWithIndex.foreach { case (predicate, pi) =>
          rval += getURI(predicate) + " "
          lineLength += predicate.length + 1
          val objs = subjval(predicate)
          objs.zipWithIndex.foreach { case (obj, oi) =>
            rval += generateObject(obj, ",", oi < objs.length - 1, indentation, lineLength)
            lineLength = rval.length - rval.lastIndexOf("\n")
          }
          if (pi < preds.length - 1) {
            rval += " ;\n" + tabs(indentation + 1)
            lineLength = (indentation + 1) * TabSpaces
          }
        }
        if (hasOpenBnodeBracket) rval += " ]"
        if (!isObject) {
          rval += " .\n"
          if (si < subjects.length - 1) rval += "\n"
        }
      }
      rval
    }
  }

  def toTurtle(dataset: RdfDataset): String = new Writer().call(dataset)
}
