package perfbench

import java.sql.{Connection, Date, DriverManager, Timestamp}
import java.util.SplittableRandom

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded OMOP CDM v5 `NOTE` generator (all 14 columns of the CDM shape).
  *
  * Row `i` is a pure function of `(seed, i)`, so the table can be loaded
  * into Derby row by row and regenerated independently inside Spark for the
  * source checksum, with no copy of the data held anywhere. Planted
  * properties:
  *  - `PROVIDER_ID` is NULL on every third row, interleaved with values;
  *  - `VISIT_DETAIL_ID` is NULL in every one of the first 10 rows;
  *  - `NOTE_TEXT` is long-tailed (log-normal word count, median ~1 KB,
  *    capped at 48 KB) and about a third of the notes carry non-BMP
  *    characters.
  */
object NoteGen {

  val Columns: Seq[(String, String, DataType, Boolean)] = Seq(
    ("NOTE_ID", "BIGINT NOT NULL PRIMARY KEY", LongType, false),
    ("PERSON_ID", "BIGINT NOT NULL", LongType, false),
    ("NOTE_DATE", "DATE NOT NULL", DateType, false),
    ("NOTE_DATETIME", "TIMESTAMP", TimestampType, true),
    ("NOTE_TYPE_CONCEPT_ID", "BIGINT NOT NULL", LongType, false),
    ("NOTE_CLASS_CONCEPT_ID", "BIGINT NOT NULL", LongType, false),
    ("NOTE_TITLE", "VARCHAR(250)", StringType, true),
    ("NOTE_TEXT", "CLOB NOT NULL", StringType, false),
    ("ENCODING_CONCEPT_ID", "BIGINT NOT NULL", LongType, false),
    ("LANGUAGE_CONCEPT_ID", "BIGINT NOT NULL", LongType, false),
    ("PROVIDER_ID", "BIGINT", LongType, true),
    ("VISIT_OCCURRENCE_ID", "BIGINT", LongType, true),
    ("VISIT_DETAIL_ID", "BIGINT", LongType, true),
    ("NOTE_SOURCE_VALUE", "VARCHAR(50)", StringType, true)
  )

  val schema: StructType =
    StructType(Columns.map { case (n, _, t, nullable) => StructField(n, t, nullable) })

  private val Words =
    ("patient reports pain denies fever chest abdomen history of present illness " +
      "assessment plan follow up mg daily twice blood pressure normal exam noted " +
      "left right lower upper mild severe chronic acute review systems negative " +
      "positive medication allergy none known discharge admitted stable improved").split(' ')
  private val NonBmp = Array("😀", "𝄞", "𠀋", "🧪")
  private val Titles = Array("Progress note", "Discharge summary", "Radiology report", "Consult")
  private val TypeConcepts = Array(44814637L, 44814638L, 44814639L, 44814640L)
  private val ClassConcepts = Array(3030023L, 3000735L, 3001241L)
  private val Day0 = 14610 // 2010-01-01, days since epoch

  def noteId(i: Long): Long = 1000L + i

  private def rng(seed: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (i * 0xBF58476D1CE4E5B9L + 1))

  /** Row `i` as JDBC-ready values, in [[Columns]] order; `null` is SQL NULL. */
  def values(seed: Long, i: Long): Array[Any] = {
    val r = rng(seed, i)
    val day = Day0 + r.nextInt(15 * 365)
    val date = Date.valueOf(java.time.LocalDate.ofEpochDay(day.toLong))
    val ts =
      if (r.nextInt(20) == 0) null
      else Timestamp.from(java.time.Instant.ofEpochSecond(day * 86400L + r.nextInt(86400)))
    val nWords = math.min(8000, math.max(4, math.exp(math.log(150) + r.nextGaussian()).toInt))
    val sb = new java.lang.StringBuilder(nWords * 8)
    val nonBmp = r.nextInt(3) == 0
    var w = 0
    while (w < nWords) {
      if (w > 0) sb.append(if (w % 17 == 0) ". " else " ")
      if (nonBmp && w % 97 == 41) sb.append(NonBmp(r.nextInt(NonBmp.length)))
      else sb.append(Words(r.nextInt(Words.length)))
      w += 1
    }
    Array[Any](
      noteId(i),
      1L + r.nextInt(50000),
      date,
      ts,
      TypeConcepts(r.nextInt(TypeConcepts.length)),
      ClassConcepts(r.nextInt(ClassConcepts.length)),
      if (r.nextInt(10) == 0) null else Titles(r.nextInt(Titles.length)),
      sb.toString,
      32678L,
      4180186L,
      if (i % 3 == 1) null else java.lang.Long.valueOf(1L + r.nextInt(900)),
      if (r.nextInt(4) == 0) null else java.lang.Long.valueOf(1L + r.nextInt(1000000)),
      if (i < 10 || r.nextInt(2) == 0) null else java.lang.Long.valueOf(1L + r.nextInt(1000000)),
      if (r.nextInt(5) == 0) null else s"src-${r.nextInt(40)}"
    )
  }

  def row(seed: Long, i: Long): Row = Row.fromSeq(values(seed, i).toSeq)

  /** Expected NULL count of `PROVIDER_ID` over rows `0 until n`. */
  def providerNulls(n: Long): Long = (n + 1) / 3

  /** Logical source bytes of row `i`: 8 per integer/date/timestamp cell and
    * the UTF-8 length of each string cell — the size a reader of the source
    * moves before any encoding or compression.
    */
  def logicalBytes(v: Array[Any]): Long = v.iterator.map {
    case null => 0L
    case s: String => s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong
    case _ => 8L
  }.sum

  def connect(url: String): Connection = DriverManager.getConnection(url)

  /** Create and fill `NOTE` with rows `0 until n`; returns the logical bytes. */
  def load(conn: Connection, seed: Long, n: Long): Long = {
    conn.setAutoCommit(false)
    val st = conn.createStatement()
    st.executeUpdate(Columns.map { case (c, ddl, _, _) => s"$c $ddl" }.mkString("CREATE TABLE NOTE (", ", ", ")"))
    conn.commit()
    val ps = conn.prepareStatement(s"INSERT INTO NOTE VALUES (${Seq.fill(Columns.size)("?").mkString(", ")})")
    val sqlTypes = Columns.map(_._3 match {
      case LongType => java.sql.Types.BIGINT
      case DateType => java.sql.Types.DATE
      case TimestampType => java.sql.Types.TIMESTAMP
      case _ => java.sql.Types.VARCHAR
    })
    var bytes = 0L
    var i = 0L
    while (i < n) {
      val v = values(seed, i)
      bytes += logicalBytes(v)
      var c = 0
      while (c < v.length) {
        v(c) match {
          case null => ps.setNull(c + 1, sqlTypes(c))
          case x: java.lang.Long => ps.setLong(c + 1, x)
          case x: Long => ps.setLong(c + 1, x)
          case x: Date => ps.setDate(c + 1, x)
          case x: Timestamp => ps.setTimestamp(c + 1, x)
          case x: String => ps.setString(c + 1, x)
          case x => throw new IllegalStateException(s"unexpected cell $x")
        }
        c += 1
      }
      ps.addBatch()
      i += 1
      if (i % 500 == 0) ps.executeBatch()
      if (i % 10000 == 0) conn.commit()
    }
    ps.executeBatch()
    conn.commit()
    bytes
  }
}
