package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.graftbridge.{GraftBridge => ExpressionUtils}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Resource fingerprinting.
  *
  * Replicates the reference's `CalculateFingerprint(attrs, ResourceHierarchy())`
  * (`utils/fingerprint/fingerprint.go:25-47,70-206,213-229`):
  *  - walk a dimension hierarchy, picking the FIRST present label per level
  *    and the FIRST sub-hierarchy that yields any labels;
  *  - append `hash=<fnv1a64>` where the hash runs over name-sorted `k=v`
  *    pairs with 0xFF separators (`utils/fingerprint/hash.go:32-52`);
  *  - join parts with ';' -> e.g. `service.name=s;hash=12345`.
  *
  * Pure per-row function of the resource map; exposed as a codegen-friendly
  * expression so the exporter stage stays in whole-stage codegen.
  */
object Fingerprint {

  final case class Node(labels: Seq[String], sub: Seq[Node] = Nil)

  /** The reference resource hierarchy (`fingerprint.go:70-206`), verbatim;
    * built bottom-up for readability.
    */
  val resourceHierarchy: Node = {
    // logical/service-oriented view
    val component = Node(Seq("component"))
    val containerL = Node(Seq("k8s.container.name", "container.name", "container_name"),
      Seq(component))
    val instance = Node(Seq("service.instance.id", "k8s.pod.name", "k8s.pod.uid",
      "aws.ecs.task.id", "aws.ecs.task.arn", "cloudwatch.log.stream",
      "cloud.resource_id", "faas.instance", "host.id", "host.name",
      "host.ip", "host"), Seq(containerL))
    val environment = Node(Seq("deployment.environment", "ec2.tag.env-short",
      "ec2.tag.env", "env"), Seq(instance))
    val service = Node(Seq("service.name", "cloudwatch.log.group.name",
      "k8s.deployment.name", "k8s.deployment.uid",
      "k8s.statefulset.name", "k8s.statefulset.uid",
      "k8s.daemonset.name", "k8s.daemonset.uid",
      "k8s.job.name", "k8s.job.uid",
      "k8s.cronjob.name", "k8s.cronjob.uid",
      "faas.name", "ec2.tag.service"), Seq(environment))
    val namespace = Node(Seq("service.namespace", "k8s.namespace.name",
      "ec2.tag.service-group"), Seq(service))
    // node-oriented view
    val containerN = Node(Seq("k8s.container.name", "container.name"))
    val podN = Node(Seq("k8s.pod.name", "k8s.pod.uid", "aws.ecs.task.id",
      "aws.ecs.task.arn"), Seq(containerN))
    val nodeN = Node(Seq("k8s.node.name", "k8s.node.uid", "host.id", "host.name",
      "host.ip", "host"), Seq(podN))
    val az = Node(Seq("cloud.availability_zone"), Seq(nodeN))

    val cluster = Node(Seq("k8s.cluster.name", "k8s.cluster.uid", "aws.ecs.cluster.arn"),
      Seq(namespace, az))
    val platform = Node(Seq("cloud.platform", "source_type"), Seq(cluster))
    val region = Node(Seq("cloud.region", "aws.region"), Seq(platform))
    val gcp = Node(Seq("gcp.project"), Seq(region))
    val account = Node(Seq("cloud.account.id"), Seq(gcp))
    Node(Seq("cloud.provider"), Seq(account))
  }

  private val offset64 = -3750763034362895579L // 14695981039346656037 as signed
  private val prime64 = 1099511628211L
  /** FNV offset basis exposed for sibling kernels (uint64 bits as Long). */
  val offset64Public: Long = offset64

  def hashAdd(h0: Long, s: String): Long = {
    var h = h0
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= prime64
      i += 1
    }
    h
  }

  def hashAddByte(h0: Long, b: Int): Long = {
    var h = h0
    h ^= (b & 0xffL)
    h *= prime64
    h
  }

  /** FNV-1a over name-sorted k=v pairs with 0xFF separators; returned as the
    * unsigned decimal string Go's `%v` prints.
    */
  def fingerprintHash(attrs: Seq[(String, String)]): String = {
    if (attrs.isEmpty) return java.lang.Long.toUnsignedString(offset64)
    var sum = offset64
    attrs.sortBy(_._1).foreach { case (k, v) =>
      sum = hashAdd(sum, k)
      sum = hashAddByte(sum, 0xff)
      sum = hashAdd(sum, v)
      sum = hashAddByte(sum, 0xff)
    }
    java.lang.Long.toUnsignedString(sum)
  }

  def identifier(node: Node, attrs: Map[String, String]): Seq[(String, String)] = {
    val own = node.labels.collectFirst {
      case l if attrs.contains(l) => (l, attrs(l))
    }.toSeq
    val sub = node.sub.iterator.map(identifier(_, attrs)).find(_.nonEmpty).getOrElse(Nil)
    own ++ sub
  }

  def calculate(attrs: Map[String, String]): String = {
    val parts = identifier(resourceHierarchy, attrs).map { case (k, v) => s"$k=$v" } :+
      s"hash=${fingerprintHash(attrs.toSeq)}"
    parts.mkString(";")
  }
}

/** Per-task worker bridging MapData -> fingerprint string.
  *
  * Resource maps are extremely low-cardinality relative to rows (the whole
  * point of resource fingerprinting), so the hierarchy walk + sort + FNV +
  * string build is memoized per distinct map content — profiled as ~10% of
  * pipeline CPU un-memoized. Bounded cache, per task instance.
  */
final class FingerprintWorker extends Serializable {
  // shared across task threads in local mode -> must be concurrent
  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, UTF8String]()

  def calc(m: MapData): UTF8String = {
    if (m == null) return null
    val n = m.numElements()
    val keys = m.keyArray()
    val vals = m.valueArray()
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < n) {
      sb.append(keys.getUTF8String(i)).append('\u0000')
      if (!vals.isNullAt(i)) sb.append(vals.getUTF8String(i))
      sb.append('\u0001')
      i += 1
    }
    val cacheKey = sb.toString
    val hit = cache.get(cacheKey)
    if (hit != null) return hit
    val pairs = new Array[(String, String)](n)
    i = 0
    while (i < n) {
      pairs(i) = (keys.getUTF8String(i).toString,
        if (vals.isNullAt(i)) "" else vals.getUTF8String(i).toString)
      i += 1
    }
    val result = UTF8String.fromString(Fingerprint.calculate(pairs.toMap))
    if (cache.size < 65536) cache.put(cacheKey, result)
    result
  }
}

/** FNV-1a 64 over a BINARY column, continuing from a caller-provided seed
  * state (used by the tail sampler to fold a salt prefix in driver-side —
  * `internal/sampling/probabilistic.go:76-83` hashTraceID).
  */
object FnvBytesKernel extends Serializable {
  def hash(bytes: Array[Byte], seed: Long): Long = {
    var h = seed
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 1099511628211L
      i += 1
    }
    h
  }
}

case class FnvOverBytes(child: Expression, seed: Long)
    extends UnaryExpression with InvokeKernel {
  protected def kernel = FnvBytesKernel
  protected def method = "hash"
  override protected def arguments = Seq(child, Literal(seed))
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override protected def withNewChildInternal(newChild: Expression): FnvOverBytes =
    copy(child = newChild)
}

object FnvOverBytes {
  def apply(c: Column, seed: Long): Column =
    ExpressionUtils.column(FnvOverBytes(ExpressionUtils.expression(c), seed))
}

/** Attribute-metadata kernel (`exporter/metadataexporter/attribute_writer.go:58-79`
  * + `utils/fingerprint/hash.go:32-52` FingerprintHash +
  * `exporter.go:81-89` flattenJSONToStringMap):
  *  - fingerprint = FNV-1a over name-sorted `k`,0xFF,`%v(value)`,0xFF of ALL
  *    (non-skipped) attributes regardless of type, a number as
  *    [[GoFloat.int64Or]] `percentV` (SURVEY rows 250, 385);
  *  - the stored map keeps ONLY string-valued attributes (numbers/bools are
  *    in the fingerprint but dropped from the map — faithful to
  *    flattenJSONToStringMap's `case string` switch).
  * Input is a struct of the three typed maps; output
  * struct(fprint BIGINT /*uint64 bits*/, attrs MAP<STRING,STRING>).
  */
final class AttrsMetaWorker(skipKeys: Array[String]) extends Serializable {
  import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}

  @transient private lazy val skip: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    skipKeys.foreach(s.add)
    s
  }

  def compute(row: org.apache.spark.sql.catalyst.InternalRow): org.apache.spark.sql.catalyst.InternalRow = {
    if (row == null) return null
    val entries = scala.collection.mutable.ArrayBuffer.empty[(String, String, Boolean)]
    def addMap(idx: Int, render: Any => String, isString: Boolean): Unit = {
      if (!row.isNullAt(idx)) {
        val m = row.getMap(idx)
        val keys = m.keyArray()
        val vals = m.valueArray()
        var i = 0
        while (i < m.numElements()) {
          val k = keys.getUTF8String(i).toString
          if (!skip.contains(k)) {
            val v =
              if (vals.isNullAt(i)) ""
              else render(idx match {
                case 0 => vals.getUTF8String(i)
                case 1 => vals.getDouble(i)
                case 2 => vals.getBoolean(i)
              })
            entries += ((k, v, isString))
          }
          i += 1
        }
      }
    }
    addMap(0, v => v.toString, isString = true)
    addMap(1, v => GoFloat.int64Or(v.asInstanceOf[Double], GoFloat.percentV), isString = false)
    addMap(2, v => v.toString, isString = false)

    val sorted = entries.sortBy(_._1)
    val sum = if (sorted.isEmpty) Fingerprint.offset64Public else {
      var h = Fingerprint.offset64Public
      sorted.foreach { case (k, v, _) =>
        h = Fingerprint.hashAdd(h, k)
        h = Fingerprint.hashAddByte(h, 0xff)
        h = Fingerprint.hashAdd(h, v)
        h = Fingerprint.hashAddByte(h, 0xff)
      }
      h
    }
    val strEntries = sorted.filter(_._3)
    val mapData = new ArrayBasedMapData(
      new GenericArrayData(strEntries.map(e => UTF8String.fromString(e._1): Any).toArray),
      new GenericArrayData(strEntries.map(e => UTF8String.fromString(e._2): Any).toArray))
    org.apache.spark.sql.catalyst.InternalRow(sum, mapData)
  }
}

/** `attrs_meta(struct(strings, numbers, bools))` — see [[AttrsMetaWorker]]. */
case class AttrsMeta(child: Expression, skipKeys: Seq[String])
    extends UnaryExpression with InvokeKernel {
  import org.apache.spark.sql.types._
  protected lazy val kernel = new AttrsMetaWorker(skipKeys.toArray)
  protected def method = "compute"
  override def dataType: DataType = StructType(Seq(
    StructField("fprint", LongType),
    StructField("attrs", MapType(StringType, StringType, valueContainsNull = false))))
  override protected def withNewChildInternal(newChild: Expression): AttrsMeta =
    copy(child = newChild)
}

object AttrsMeta {
  def of(strings: Column, numbers: Column, bools: Column,
      skipKeys: Seq[String] = Nil): Column =
    ExpressionUtils.column(AttrsMeta(
      ExpressionUtils.expression(
        org.apache.spark.sql.functions.struct(strings, numbers, bools)),
      skipKeys))
}

/** `resource_fingerprint(map)` -> hierarchy-labeled FNV-1a fingerprint. */
case class ResourceFingerprint(child: Expression)
    extends UnaryExpression with InvokeKernel {
  protected lazy val kernel = new FingerprintWorker
  protected def method = "calc"
  override def dataType: DataType = StringType
  override protected def withNewChildInternal(newChild: Expression): ResourceFingerprint =
    copy(child = newChild)
}

object ResourceFingerprint {
  def apply(c: Column): Column =
    ExpressionUtils.column(ResourceFingerprint(ExpressionUtils.expression(c)))
}
