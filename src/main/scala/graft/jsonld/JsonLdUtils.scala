package graft.jsonld

/** Predicates and merge helpers
  * (/root/reference/src/json-ld.net/Core/JsonLdUtils.cs). */
object JsonLdUtils {

  val keywords: Set[String] = Set(
    "@base", "@context", "@container", "@default", "@embed", "@explicit",
    "@graph", "@id", "@index", "@language", "@list", "@omitDefault",
    "@reverse", "@preserve", "@set", "@type", "@value", "@vocab")

  @inline def isNull(v: JV): Boolean = v == null || v == JNull

  def isKeyword(v: JV): Boolean = v match {
    case JStr(s) => keywords.contains(s)
    case _       => false
  }
  def isKeyword(s: String): Boolean = s != null && keywords.contains(s)

  def isString(v: JV): Boolean = v.isInstanceOf[JStr]
  def isObject(v: JV): Boolean = v.isInstanceOf[JObj]
  def isList(v: JV): Boolean = v match { case o: JObj => o.containsKey("@list"); case _ => false }
  def isValue(v: JV): Boolean = v match { case o: JObj => o.containsKey("@value"); case _ => false }

  def asString(v: JV): String = v match { case JStr(s) => s; case _ => null }

  /** token.Value<string>().Equals(s) with exceptions as false
    * (Util/JavaCompat.cs:63-73). */
  def safeCompare(v: JV, s: String): Boolean = v match {
    case JStr(x) => x == s
    case _       => false
  }
  def safeCompare(v: JV, b: Boolean): Boolean = v match {
    case JBool(x) => x == b
    case _        => false
  }

  /** Deliberately simplistic: absolute iff contains ':'
    * (Core/JsonLdUtils.cs:209-213) — load-bearing for which triples drop. */
  def isAbsoluteIri(value: String): Boolean = value != null && value.contains(":")
  def isRelativeIri(value: String): Boolean = !(isKeyword(value) || isAbsoluteIri(value))

  def isNode(v: JV): Boolean = v match {
    case o: JObj if !(o.containsKey("@value") || o.containsKey("@set") || o.containsKey("@list")) =>
      o.size > 1 || !o.containsKey("@id")
    case _ => false
  }

  def isNodeReference(v: JV): Boolean = v match {
    case o: JObj => o.size == 1 && o.containsKey("@id")
    case _       => false
  }

  def isBlankNode(v: JV): Boolean = v match {
    case o: JObj =>
      if (o.containsKey("@id")) asString(o("@id")) != null && asString(o("@id")).startsWith("_:")
      else o.size == 0 || !(o.containsKey("@value") || o.containsKey("@set") || o.containsKey("@list"))
    case _ => false
  }

  /** Newtonsoft JValue.ToString flavored scalar rendering, used only by the
    * DeepCompare fallback (Core/JsonLdUtils.cs:129-131). */
  def scalarString(v: JV): String = v match {
    case null | JNull => ""
    case JStr(s)      => s
    case JLong(l)     => l.toString
    case JDouble(d)   => Json.doubleToStringDotNet(d)
    case JBool(b)     => if (b) "True" else "False"
    case other        => Json.write(other)
  }

  /** The conformance oracle's structural comparison, including the
    * http:->https: rewrite hack (Core/JsonLdUtils.cs:53-141). */
  def deepCompare(v1: JV, v2: JV, listOrderMatters: Boolean): Boolean = {
    if (v1 == null) return v2 == null
    if (v2 == null) return false
    (v1, v2) match {
      case (m1: JObj, m2: JObj) =>
        if (m1.size != m2.size) return false
        m1.keys.forall(k => m2.containsKey(k) && deepCompare(m1(k), m2(k), listOrderMatters))
      case (l1: JArr, l2: JArr) =>
        if (l1.size != l2.size) return false
        if (listOrderMatters) {
          l1.items.indices.forall(i => deepCompare(l1(i), l2(i), listOrderMatters))
        } else {
          val matched = new Array[Boolean](l2.size)
          l1.items.forall { o1 =>
            var got = false
            var j = 0
            while (!got && j < l2.size) {
              if (!matched(j) && deepCompare(o1, l2(j), listOrderMatters)) { matched(j) = true; got = true }
              j += 1
            }
            got
          }
        }
      case _ =>
        def norm(v: JV) =
          scalarString(v).replace("\r\n", "").replace("\n", "").replace("http:", "https:")
        norm(v1) == norm(v2)
    }
  }

  def deepCompare(v1: JV, v2: JV): Boolean = deepCompare(v1, v2, listOrderMatters = false)

  def deepContains(values: JArr, value: JV): Boolean =
    values.items.exists(item => deepCompare(item, value, listOrderMatters = false))

  def mergeValue(obj: JObj, key: String, value: JV): Unit =
    mergeValue(obj, key, value, skipSetContainsCheck = false)

  def mergeValue(obj: JObj, key: String, value: JV, skipSetContainsCheck: Boolean): Unit = {
    if (obj == null) return
    var values = obj(key).asInstanceOf[JArr]
    if (values == null) { values = new JArr; obj.put(key, values) }
    val isListVal = value match { case o: JObj => o.containsKey("@list"); case _ => false }
    if (skipSetContainsCheck || "@list" == key || isListVal || !deepContains(values, value))
      values.add(value)
  }

  /** JSON-LD value equality (Core/JsonLdUtils.cs:778-799). */
  def compareValues(v1: JV, v2: JV): Boolean = {
    if (tokenEquals(v1, v2)) return true
    (v1, v2) match {
      case (o1: JObj, o2: JObj) =>
        if (isValue(v1) && isValue(v2) &&
            tokenEquals(o1("@value"), o2("@value")) &&
            tokenEquals(o1("@type"), o2("@type")) &&
            tokenEquals(o1("@language"), o2("@language")) &&
            tokenEquals(o1("@index"), o2("@index"))) true
        else o1.containsKey("@id") && o2.containsKey("@id") && tokenEquals(o1("@id"), o2("@id"))
      case _ => false
    }
  }

  /** JToken.Equals semantics: value equality for scalars, reference
    * equality for containers; null==null. */
  def tokenEquals(v1: JV, v2: JV): Boolean = (v1, v2) match {
    case (null, null)             => true
    case (null, _) | (_, null)    => false
    case (JNull, JNull)           => true
    case (JStr(a), JStr(b))       => a == b
    case (JLong(a), JLong(b))     => a == b
    case (JDouble(a), JDouble(b)) => a == b
    case (JBool(a), JBool(b))     => a == b
    case (a: AnyRef, b: AnyRef)   => a eq b
  }

  /** Core/JsonLdUtils.cs:271-333. */
  def addValue(subject: JObj, property: String, value: JV, propertyIsArray: Boolean,
               allowDuplicate: Boolean): Unit = {
    value match {
      case arr: JArr =>
        if (arr.isEmpty && propertyIsArray && !subject.containsKey(property))
          subject.put(property, new JArr)
        arr.items.foreach(v => addValue(subject, property, v, propertyIsArray, allowDuplicate))
      case _ =>
        if (subject.containsKey(property)) {
          val hasVal = !allowDuplicate && hasValue(subject, property, value)
          if (!subject(property).isInstanceOf[JArr] && (!hasVal || propertyIsArray)) {
            val tmp = new JArr; tmp.add(subject(property)); subject.put(property, tmp)
          }
          if (!hasVal) subject(property).asInstanceOf[JArr].add(value)
        } else {
          if (propertyIsArray) { val tmp = new JArr; tmp.add(value); subject.put(property, tmp) }
          else subject.put(property, value)
        }
    }
  }
  def addValue(subject: JObj, property: String, value: JV, propertyIsArray: Boolean): Unit =
    addValue(subject, property, value, propertyIsArray, allowDuplicate = true)
  def addValue(subject: JObj, property: String, value: JV): Unit =
    addValue(subject, property, value, propertyIsArray = false, allowDuplicate = true)

  def hasValue(subject: JObj, property: String, value: JV): Boolean = {
    if (!hasProperty(subject, property)) return false
    var v = subject(property)
    val isLst = isList(v)
    if (isLst || v.isInstanceOf[JArr]) {
      if (isLst) v = v.asInstanceOf[JObj]("@list")
      v.asInstanceOf[JArr].items.exists(i => compareValues(value, i))
    } else if (!value.isInstanceOf[JArr]) compareValues(value, v)
    else false
  }

  private def hasProperty(subject: JObj, property: String): Boolean =
    subject.containsKey(property) && (subject(property) match {
      case a: JArr => a.size > 0
      case _       => true
    })

  /** Length-then-ordinal string order (Core/JsonLdUtils.cs:699-713). */
  def compareShortestLeast(a: String, b: String): Int =
    if (a.length < b.length) -1
    else if (b.length < a.length) 1
    else math.signum(a.compareTo(b))

  /** Removes @preserve as the last framing step (Core/JsonLdUtils.cs:595-653). */
  def removePreserve(ctx: Context, input: JV, opts: JsonLdOptions): JV = {
    input match {
      case arr: JArr =>
        val output = new JArr
        arr.items.foreach { i =>
          val result = removePreserve(ctx, i, opts)
          if (!isNull(result)) output.add(result)
        }
        output
      case obj: JObj =>
        if (obj.containsKey("@preserve")) {
          if (safeCompare(obj("@preserve"), "@null")) return null
          return obj("@preserve")
        }
        if (isValue(obj)) return obj
        if (isList(obj)) {
          obj.put("@list", removePreserve(ctx, obj("@list"), opts))
          return obj
        }
        obj.keys.foreach { prop =>
          var result = removePreserve(ctx, obj(prop), opts)
          val container = ctx.getContainer(prop)
          result match {
            case a: JArr if opts.compactArrays && a.size == 1 && container == null =>
              result = a(0)
            case _ => ()
          }
          obj.put(prop, result)
        }
        obj
      case other => other
    }
  }
}
