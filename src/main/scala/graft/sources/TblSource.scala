package graft.sources

import java.io.{BufferedInputStream, DataInputStream, EOFException, FileInputStream, InputStream}

import org.apache.spark.sql.types.{FloatType, IntegerType, StringType, StructField, StructType}

import scala.collection.mutable

/** Reader for the reference engine's serialized `.tbl` table format.
  *
  * The reference persists tables as a raw `java.io.ObjectOutputStream` of
  * its own classes — `ConvertTxtToTbl` writes one `qp.utils.Tuple` per
  * row (reference ConvertTxtToTbl.java:29-73), and the operator spill path
  * writes `qp.utils.Batch` pages of tuples (TupleWriter.java:46-86).
  * Deserializing those with `ObjectInputStream` would require the
  * reference's classes on the classpath; instead this is a self-contained
  * parser for the Java Object Serialization Stream Protocol (the subset
  * those writers produce: objects, strings, arrays, block data, back
  * references), driven entirely by the class descriptors read from the
  * stream. It accepts both the tuple-stream and the batch-stream layout.
  *
  * Rows are served by the [[DetDataSource]] scan, which runs
  * [[readRows]] inside its reader; [[readMdSchema]] gives it the schema
  * of a table that has a `.md` and no `.det`.
  *
  * Scale note: the format is a single sequential stream with back
  * references — inherently unsplittable, so the scan reads it in one
  * task. The reference has the same constraint: its reader is a
  * single-threaded ObjectInputStream.
  */
object TblSource {

  // --- generic Java-serialization stream model ---------------------------

  private final case class FieldDesc(typeCode: Char, name: String)
  private final class ClassDesc(
      val name: String, val flags: Int,
      val fields: Seq[FieldDesc], val superDesc: ClassDesc)
  private final class JObject(val desc: ClassDesc) {
    val fields = mutable.Map[String, Any]()
    val annotation = mutable.Buffer[Any]()
  }
  private final class JArray(val values: Seq[Any])
  private final case class BlockData(bytes: Array[Byte])

  private val ScWriteMethod = 0x01
  private val ScSerializable = 0x02

  /** Read and check the 4-byte stream header (magic 0xACED, version 5). */
  def readHeader(in: DataInputStream): Unit = {
    require(in.readUnsignedShort() == 0xACED, "not a Java serialization stream")
    require(in.readUnsignedShort() == 5, "unsupported stream version")
  }

  /** Parse every top-level object of a serialization stream. */
  private def parseStream(in: DataInputStream): Seq[Any] = {
    readHeader(in)
    val handles = mutable.ArrayBuffer[Any]()
    def newHandle(v: Any): Any = { handles += v; v }

    def readClassDescContent(): ClassDesc = {
      val name = in.readUTF()
      in.readLong() // serialVersionUID — layout comes from the field list
      val slot = handles.length
      handles += null // reserve the handle before the (possibly recursive) body
      val flags = in.readUnsignedByte()
      val nFields = in.readUnsignedShort()
      val fields = (0 until nFields).map { _ =>
        val tc = in.readUnsignedByte().toChar
        val fname = in.readUTF()
        if (tc == 'L' || tc == '[') readContent(in.readUnsignedByte()) // className1 string
        FieldDesc(tc, fname)
      }
      // classAnnotation: contents until TC_ENDBLOCKDATA
      var tag = in.readUnsignedByte()
      while (tag != 0x78) { readContent(tag); tag = in.readUnsignedByte() }
      val superDesc = readClassDescRef(in.readUnsignedByte())
      val desc = new ClassDesc(name, flags, fields, superDesc)
      handles(slot) = desc
      desc
    }

    def readClassDescRef(tag: Int): ClassDesc = tag match {
      case 0x70 => null // TC_NULL
      case 0x71 => handles((in.readInt() - 0x7E0000)).asInstanceOf[ClassDesc]
      case 0x72 => readClassDescContent()
      case other => sys.error(f"tbl parse: unexpected tag 0x$other%02x for class desc")
    }

    def readPrimitive(tc: Char): Any = tc match {
      case 'B' => in.readByte()
      case 'C' => in.readChar()
      case 'D' => in.readDouble()
      case 'F' => in.readFloat()
      case 'I' => in.readInt()
      case 'J' => in.readLong()
      case 'S' => in.readShort()
      case 'Z' => in.readBoolean()
    }

    def readObjectBody(desc: ClassDesc): JObject = {
      val obj = new JObject(desc)
      newHandle(obj)
      // classdata: super-to-sub order
      val hierarchy = Iterator.iterate(desc)(_.superDesc).takeWhile(_ != null)
        .toSeq.reverse
      hierarchy.foreach { d =>
        if ((d.flags & ScSerializable) != 0) {
          d.fields.foreach { f =>
            val v = f.typeCode match {
              case 'L' | '[' => readContent(in.readUnsignedByte())
              case prim      => readPrimitive(prim)
            }
            obj.fields(f.name) = v
          }
          if ((d.flags & ScWriteMethod) != 0) {
            var tag = in.readUnsignedByte()
            while (tag != 0x78) { obj.annotation += readContent(tag); tag = in.readUnsignedByte() }
          }
        } else sys.error(s"tbl parse: unsupported class flags for ${d.name}")
      }
      obj
    }

    def readContent(tag: Int): Any = tag match {
      case 0x70 => null // TC_NULL
      case 0x71 => handles(in.readInt() - 0x7E0000) // TC_REFERENCE
      case 0x72 => readClassDescContent() // TC_CLASSDESC (as content)
      case 0x73 => readObjectBody(readClassDescRef(in.readUnsignedByte())) // TC_OBJECT
      case 0x74 => newHandle(in.readUTF()) // TC_STRING
      case 0x75 => // TC_ARRAY
        val desc = readClassDescRef(in.readUnsignedByte())
        val slot = handles.length
        handles += null
        val n = in.readInt()
        val comp = desc.name.charAt(1) // "[I", "[Ljava.lang.Object;"…
        val values = (0 until n).map { _ =>
          comp match {
            case 'L' | '[' => readContent(in.readUnsignedByte())
            case prim      => readPrimitive(prim)
          }
        }
        val arr = new JArray(values)
        handles(slot) = arr
        arr
      case 0x77 => // TC_BLOCKDATA
        val n = in.readUnsignedByte()
        val b = new Array[Byte](n); in.readFully(b); BlockData(b)
      case 0x7A => // TC_BLOCKDATALONG
        val n = in.readInt()
        val b = new Array[Byte](n); in.readFully(b); BlockData(b)
      case other => sys.error(f"tbl parse: unsupported tag 0x$other%02x")
    }

    val out = mutable.Buffer[Any]()
    try {
      while (true) out += readContent(in.readUnsignedByte())
    } catch { case _: EOFException => }
    out.toSeq
  }

  // --- mapping the reference's object graphs to plain values -------------

  private def extract(v: Any): Any = v match {
    case o: JObject => o.desc.name match {
      case "java.lang.Integer" | "java.lang.Float" | "java.lang.Long" |
           "java.lang.Double" | "java.lang.Short" | "java.lang.Byte" |
           "java.lang.Boolean" | "java.lang.Character" =>
        o.fields("value")
      case "java.util.ArrayList" =>
        // writeObject = size field + capacity block + element objects
        o.annotation.collect { case e if !e.isInstanceOf[BlockData] => extract(e) }.toSeq
      case "java.util.Vector" =>
        val n = o.fields("elementCount").asInstanceOf[Int]
        o.fields("elementData").asInstanceOf[JArray].values.take(n).map(extract)
      case "qp.utils.Tuple" => extract(o.fields("_data"))
      case "qp.utils.Batch" => extract(o.fields("tuples"))
      case other => sys.error(s"tbl parse: unexpected object class $other")
    }
    case s: String => s
    case x => x
  }

  /** All rows of a `.tbl` stream, whether it is a stream of Tuples
    * (ConvertTxtToTbl layout) or of Batches (TupleWriter layout).
    * Dispatch is on the serialized class, not the extracted shape — an
    * empty Batch page (possible when the row count divides the page
    * size) must contribute zero rows, not one phantom empty row. The
    * caller closes `in`. */
  def readRows(in: InputStream): Seq[Seq[Any]] =
    parseStream(new DataInputStream(new BufferedInputStream(in))).flatMap {
      case o: JObject if o.desc.name == "qp.utils.Tuple" =>
        Seq(extract(o).asInstanceOf[Seq[Any]])
      case o: JObject if o.desc.name == "qp.utils.Batch" =>
        extract(o).asInstanceOf[Seq[Seq[Any]]]
      case other => sys.error(s"tbl parse: unexpected top-level $other")
    }

  /** Parse a reference `.md` catalog — a Java-serialized `qp.utils.Schema`
    * (ArrayList of Attribute(tblname, colname, type, ...)) — into a Spark
    * StructType. This is the catalog file the reference's loader actually
    * reads (ConvertTxtToTbl.java:38-44); the human-readable `.det` twin is
    * handled by [[DetSource.parseDet]]. Attribute type codes per
    * Attribute.java: 1=INT, 2=STRING, 3=REAL. */
  def readMdSchema(mdPath: String): StructType = {
    val in = new DataInputStream(new BufferedInputStream(new FileInputStream(mdPath)))
    try {
      val schema = parseStream(in).headOption match {
        case Some(o: JObject) if o.desc.name == "qp.utils.Schema" => o
        case other => sys.error(s"md parse: expected qp.utils.Schema, got $other")
      }
      val atts = schema.fields("attset") match {
        case l: JObject if l.desc.name == "java.util.ArrayList" =>
          l.annotation.collect { case a: JObject if a.desc.name == "qp.utils.Attribute" => a }
        case other => sys.error(s"md parse: expected attribute list, got $other")
      }
      StructType(atts.map { a =>
        val dt = a.fields("type").asInstanceOf[Int] match {
          case 1 => IntegerType
          case 2 => StringType
          case 3 => FloatType
          case t => sys.error(s"md parse: unknown attribute type $t")
        }
        StructField(a.fields("colname").asInstanceOf[String], dt, nullable = false)
      }.toSeq)
    } finally in.close()
  }
}
