package graft.jsonld

import JsonLdUtils._

/** Public entry points
  * (/root/reference/src/json-ld.net/Core/JsonLdProcessor.cs). */
object JsonLdProcessor {

  /** Core/JsonLdProcessor.cs:64-149. */
  def expand(input0: JV, opts: JsonLdOptions): JArr = {
    var input = input0
    // string-IRI input detection (Core/JsonLdProcessor.cs:69-109)
    input match {
      case JStr(s) =>
        var hasColon = false
        var isIri = true
        s.foreach { c =>
          if (c == ':') hasColon = true
          if (!hasColon && (c == '{' || c == '[')) isIri = false
        }
        if (isIri) {
          input = try opts.loadDocument(s)
          catch {
            case e: Exception => throw new JsonLdError(JsonLdError.LoadingDocumentFailed, e.getMessage)
          }
          if (opts.base == null) opts.base = s
        }
      case _ => ()
    }
    var activeCtx = new Context(opts)
    if (opts.expandContext != null) {
      val exCtx = opts.expandContext match {
        case o: JObj if o.containsKey("@context") => o("@context")
        case other                                => other
      }
      activeCtx = activeCtx.parse(exCtx)
    }
    var expanded = new JsonLdApi(opts).expand(activeCtx, input)
    expanded match {
      case o: JObj if o.containsKey("@graph") && o.size == 1 => expanded = o("@graph")
      case null | JNull                                      => expanded = new JArr
      case _                                                 => ()
    }
    expanded match {
      case a: JArr => a
      case other   => val t = new JArr; t.add(other); t
    }
  }

  /** Core/JsonLdProcessor.cs:16-61. */
  def compact(input: JV, context0: JV, opts: JsonLdOptions): JObj = {
    val expanded = expand(input, opts)
    var context = context0
    context match {
      case o: JObj if o.containsKey("@context") => context = o("@context")
      case _                                    => ()
    }
    var activeCtx = new Context(opts)
    activeCtx = activeCtx.parse(context)
    var compacted = new JsonLdApi(opts).compact(activeCtx, null, expanded, opts.compactArrays)
    compacted match {
      case a: JArr =>
        if (a.isEmpty) compacted = new JObj
        else {
          val tmp = new JObj
          tmp.put(activeCtx.compactIri("@graph", relativeToVocab = true), compacted)
          compacted = tmp
        }
      case _ => ()
    }
    if (!isNull(compacted) && !isNull(context)) {
      val nonEmpty = context match {
        case o: JObj => !o.isEmpty
        case a: JArr => !a.isEmpty
        case _       => false
      }
      if (nonEmpty) compacted.asInstanceOf[JObj].put("@context", context)
    }
    compacted.asInstanceOf[JObj]
  }

  /** Core/JsonLdProcessor.cs:158-253. */
  def flatten(input: JV, context0: JV, opts: JsonLdOptions): JV = {
    val expanded = expand(input, opts)
    var context = context0
    context match {
      case o: JObj if o.containsKey("@context") => context = o("@context")
      case _                                    => ()
    }
    val nodeMap = new JObj
    nodeMap.put("@default", new JObj)
    new JsonLdApi(opts).generateNodeMap(expanded, nodeMap)
    val defaultGraph = nodeMap.remove("@default").asInstanceOf[JObj]
    nodeMap.keys.foreach { graphName =>
      val graph = nodeMap(graphName).asInstanceOf[JObj]
      val entry: JObj =
        if (!defaultGraph.containsKey(graphName)) {
          val e = new JObj; e.put("@id", JStr(graphName)); defaultGraph.put(graphName, e); e
        } else defaultGraph(graphName).asInstanceOf[JObj]
      if (!entry.containsKey("@graph")) entry.put("@graph", new JArr)
      graph.keys.sorted.foreach { id =>
        val node = graph(id).asInstanceOf[JObj]
        if (!(node.containsKey("@id") && node.size == 1))
          entry("@graph").asInstanceOf[JArr].add(node)
      }
    }
    val flattened = new JArr
    defaultGraph.keys.sorted.foreach { id =>
      val node = defaultGraph(id).asInstanceOf[JObj]
      if (!(node.containsKey("@id") && node.size == 1)) flattened.add(node)
    }
    if (!isNull(context) && !flattened.isEmpty) {
      var activeCtx = new Context(opts)
      activeCtx = activeCtx.parse(context)
      var compacted = new JsonLdApi(opts).compact(activeCtx, null, flattened, opts.compactArrays)
      if (!compacted.isInstanceOf[JArr]) {
        val tmp = new JArr; tmp.add(compacted); compacted = tmp
      }
      val alias = activeCtx.compactIri("@graph")
      val rval = activeCtx.serialize()
      rval.put(alias, compacted)
      return rval
    }
    flattened
  }

  /** Core/JsonLdProcessor.cs:256-282. */
  def frame(input: JV, frame0: JV, options: JsonLdOptions): JObj = {
    var frameTok = frame0
    frameTok match {
      case o: JObj => frameTok = o.deepClone()
      case _       => ()
    }
    val expandedInput = expand(input, options)
    val expandedFrame = expand(frameTok, options)
    val api = new JsonLdApi(expandedInput, options)
    val framed = api.frame(expandedInput, expandedFrame)
    val frameCtxTok = frameTok match {
      case o: JObj => o("@context")
      case _       => null
    }
    val activeCtx = api.context.parse(frameCtxTok)
    var compacted = api.compact(activeCtx, null, framed)
    if (!compacted.isInstanceOf[JArr]) {
      val tmp = new JArr; tmp.add(compacted); compacted = tmp
    }
    val alias = activeCtx.compactIri("@graph")
    val rval = activeCtx.serialize()
    rval.put(alias, compacted)
    removePreserve(activeCtx, rval, options)
    rval
  }

  /** Pluggable RDF parser registry (Core/JsonLdProcessor.cs:284-315, S5):
    * format string -> serialized-input parser. N-Quads registered by
    * default; users add formats with registerRdfParser. */
  private val rdfParsers =
    scala.collection.concurrent.TrieMap[String, String => RdfDataset](
      "application/nquads" -> (s => NQuads.parseNQuads(s)),
      // Core/JsonLdProcessor.cs:291 registers TurtleRDFParser by default
      "text/turtle" -> (s => Turtle.parse(s)))

  def registerRdfParser(format: String, parser: String => RdfDataset): Unit =
    rdfParsers.put(format, parser)

  /** Core/JsonLdProcessor.cs:326-395. */
  def fromRDF(dataset: JV, options: JsonLdOptions): JV = {
    if (options.format == null && dataset.isInstanceOf[JStr])
      options.format = "application/nquads"
    rdfParsers.get(options.format) match {
      case Some(parser) => fromRDFDataset(parser(asString(dataset)), options)
      case None         => throw new JsonLdError(JsonLdError.UnknownFormat, options.format)
    }
  }

  def fromRDFDataset(dataset: RdfDataset, options: JsonLdOptions): JV = {
    val rval = new JsonLdApi(options).fromRDF(dataset)
    if (options.outputForm != null) options.outputForm match {
      case "expanded"  => rval
      case "compacted" => compact(rval, new JObj, options)
      case "flattened" => flatten(rval, new JObj, options)
      case _           => throw new JsonLdError(JsonLdError.UnknownError)
    } else rval
  }

  /** Core/JsonLdProcessor.cs:407-457. Returns Left(nquads) when
    * format=application/nquads, else Right(dataset). */
  def toRDF(input: JV, options: JsonLdOptions): Either[String, RdfDataset] = {
    val expandedInput = expand(input, options)
    val api = new JsonLdApi(expandedInput, options)
    val dataset = api.toRDF()
    // harvest namespaces from the input's @context for Turtle output
    // (Core/JsonLdProcessor.cs:413-433)
    if (options.useNamespaces) {
      val docs: Seq[JV] = input match {
        case arr: JArr => arr.items.toSeq
        case other     => Seq(other)
      }
      docs.foreach {
        case obj: JObj if obj.containsKey("@context") => dataset.parseContext(obj("@context"))
        case _                                        =>
      }
    }
    if (options.format != null) {
      if ("application/nquads" == options.format) Left(NQuads.toNQuads(dataset))
      else if ("text/turtle" == options.format) Left(Turtle.toTurtle(dataset))
      else throw new JsonLdError(JsonLdError.UnknownFormat, options.format)
    } else Right(dataset)
  }

  /** Core/JsonLdProcessor.cs:488-500. */
  def normalize(input: JV, options: JsonLdOptions): Either[String, RdfDataset] = {
    val opts = options.cloneBaseOnly()
    opts.format = null
    val dataset = toRDF(input, opts).toOption.get
    new JsonLdApi(options).normalize(dataset)
  }
}
