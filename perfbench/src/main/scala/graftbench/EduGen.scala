package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

/** Seeded generator of one dirty EduFlow day: the five CSV sources of
  * the batch pipeline plus the day's progress events as JSON lines for
  * the streaming path. Every dirt pattern of the reference fixtures is
  * planted (FIXTURES.md), and the generator counts what it planted so the
  * benchmark can assert exact raw, staged and dead-letter counts.
  *
  * The rare patterns sit at fixed row positions, so every day holds each
  * of them; the values and spelling variants are drawn. Determinism: one
  * `scala.util.Random` seeded from (seed, day), fixed iteration order,
  * explicit UTF-8 and `\n` — the same (seed, day) gives byte-identical
  * files.
  */
object EduGen {

  /** Rows per day: a few times the reference's bundled day (31 students,
    * 51 progress events, 15 tickets), far below Ingest.validateFile's
    * 25 MB limit. */
  final case class Size(students: Int = 60, progress: Int = 400,
                        tickets: Int = 20, events: Int = 400, eventFiles: Int = 2)

  /** What a day holds and what graft must make of it. */
  final case class Planted(
      day: Int, studentsRaw: Long, studentsStaged: Long,
      progressRaw: Long, progressStaged: Long, progressDlq: Long,
      coursesRaw: Long, ticketsRaw: Long, ticketsStaged: Long,
      eventLines: Long, eventsDlq: Long, eventsStaged: Long, eventStudents: Long,
      bytes: Long)

  /** Day `day` is the business date 2024-06-01 + day; its pipeline run
    * takes that date as its frozen "today". */
  def date(day: Int): java.time.LocalDate = java.time.LocalDate.of(2024, 6, 1).plusDays(day.toLong)

  val cities: Seq[(String, String, String, Seq[String])] = Seq(
    ("Mumbai", "Maharashtra", "MH", Seq("Mumabi", "Bombay", "mumbai", "MUMBAI")),
    ("Delhi", "Delhi", "DL", Seq("Dilli", "delhi")),
    ("Bangalore", "Karnataka", "KA", Seq("Banglore", "Bengaluru", "bangalore")),
    ("Hyderabad", "Telangana", "TS", Seq("Hyderbad", "hyderabad")),
    ("Chennai", "Tamil Nadu", "TN", Seq("Madras", "chennai")),
    ("Kolkata", "West Bengal", "WB", Seq("Calcutta", "kolkata")),
    ("Pune", "Maharashtra", "MH", Seq("Poona", "pune")),
    ("Ahmedabad", "Gujarat", "GJ", Seq("Amdavad")),
    ("Jaipur", "Rajasthan", "RJ", Seq("Jaipurr")),
    ("Lucknow", "Uttar Pradesh", "UP", Seq("Lucknaw")),
    ("Kanpur", "Uttar Pradesh", "UP", Seq("Cawnpore")),
    ("Bhopal", "Madhya Pradesh", "MP", Seq("Bhopaal")),
    ("Indore", "Madhya Pradesh", "MP", Seq("Indor")),
    ("Patna", "Bihar", "BR", Seq("Patana")),
    ("Kochi", "Kerala", "KL", Seq("Cochin")),
    ("Nagpur", "Maharashtra", "MH", Seq("Nagpure")),
    ("Surat", "Gujarat", "GJ", Seq("Surath")),
    ("Vadodara", "Gujarat", "GJ", Seq("Baroda")),
    ("Chandigarh", "Punjab", "PB", Seq("Chandigar")),
    ("Coimbatore", "Tamil Nadu", "TN", Seq("Kovai")))

  private val firstNames = Seq("John", "Jane", "Bob", "Eva", "Thomas", "Priya", "Rahul",
    "Anita", "Vikram", "Sneha", "Arjun", "Meera", "Karan", "Divya", "Rohan", "Isha")
  private val lastNames = Seq("Doe", "Smith", "Wilson", "Sharma", "Patel", "Reddy", "Iyer",
    "Gupta", "Nair", "Khan", "Singh", "Das", "Mehta", "Joshi")
  private val months = Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
    "Oct", "Nov", "Dec")
  private val monthNames = Seq("January", "February", "March", "April", "May", "June",
    "July", "August", "September", "October", "November", "December")
  private val idPrefixes = Seq("STU", "stu-", "STU_", "stu", "STU-", "stu_")

  /** RFC-4180 quoting for fields that need it. */
  private def q(s: String): String =
    if (s.exists(c => c == ',' || c == '"')) "\"" + s.replace("\"", "\"\"") + "\"" else s
  private def row(fields: String*): String = fields.map(q).mkString(",")
  private def json(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c => c.toString
  } + "\""

  /** Write day `day` of seed `seed` into `dir`: the five CSVs and an
    * `events/` directory of JSON-lines files. */
  def day(seed: Long, day: Int, dir: File, size: Size = Size()): Planted = {
    val rnd = new scala.util.Random(seed * 1000003L + day)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.length))
    def chance(p: Double): Boolean = rnd.nextDouble() < p
    dir.mkdirs()
    var bytes = 0L
    def write(name: String, lines: Seq[String]): Unit = {
      val f = new File(dir, name)
      f.getParentFile.mkdirs()
      val data = lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
      Files.write(f.toPath, data)
      bytes += data.length
    }

    // --- city master: misspellings are a quoted comma-joined list
    write("city_master.csv", row("city_name", "state_name", "state_code", "common_misspellings") +:
      cities.map { case (c, s, code, miss) => row(c, s, code, miss.mkString(",")) })

    // --- course catalog: clean master data
    val courseIds = (1 to 10).map(i => f"CRS$i%03d")
    val categories = Seq("Technology", "Business", "Design")
    val difficulty = Seq("Beginner", "Intermediate", "Advanced")
    write("course_catalog.csv",
      row("course_id", "course_name", "category", "difficulty", "duration_hours", "price",
        "instructor_name", "is_active") +:
      courseIds.zipWithIndex.map { case (id, i) =>
        row(id, s"Course ${i + 1}: ${pick(Seq("Data", "Cloud", "Finance", "UX"))} Basics",
          categories(i % 3), difficulty(i % 3), (20 + 5 * i).toString,
          (35000 + 2000 * i).toString, s"${pick(firstNames)} ${pick(lastNames)}", "TRUE")
      })

    // --- students: id spellings, keep-first duplicates, invalid ids
    val studentNums = mutable.ArrayBuffer.empty[Int]
    val stagedStudentKeys = mutable.HashSet.empty[String]
    var studentsRaw = 0L
    def dateIn(year: Int): (Int, Int, Int) = (year, 1 + rnd.nextInt(12), 1 + rnd.nextInt(28))
    def dobText(): String = {
      val (y, m, d) = dateIn(1990 + rnd.nextInt(12))
      rnd.nextInt(5) match {
        case 0 => f"$y%04d-$m%02d-$d%02d"
        case 1 => f"$d%02d/$m%02d/$y%04d"
        case 2 => s"${monthNames(m - 1)} $d, $y" // embedded comma: quoted field
        case 3 => f"$d%02d-$m%02d-$y%04d"
        case _ => s"${monthNames(m - 1).take(3)} $d, $y"
      }
    }
    def enrollText(): String = {
      val m = 1 + rnd.nextInt(5); val d = 1 + rnd.nextInt(28)
      rnd.nextInt(6) match {
        case 0 => f"2024-$m%02d-$d%02d"
        case 1 => f"$d%02d-${months(m - 1)}-2024"
        case 2 => "2024/01/16" // unparseable by design
        case 3 => f"$d%02d-${months(m - 1)}-24"
        case 4 => f"$d%02d/$m%02d/2024"
        case _ => f"2024-$m%02d-$d%02d"
      }
    }
    def feeText(): String = rnd.nextInt(7) match {
      case 0 => "50000"
      case 1 => "50,000"
      case 2 => "₹50000"
      case 3 => "50000.00"
      case 4 => "-50000"
      case 5 => ""
      case _ => (30000 + 1000 * rnd.nextInt(30)).toString
    }
    def cityText(): (String, String) = {
      val (c, s, code, miss) = pick(cities)
      val city = rnd.nextInt(6) match {
        case 0 => c.toLowerCase
        case 1 => c.toUpperCase + " "
        case 2 => pick(miss)
        case _ => c
      }
      val state = rnd.nextInt(4) match {
        case 0 => code
        case 1 => s.toLowerCase
        case _ => s
      }
      (city, state)
    }
    val studentLines = mutable.ArrayBuffer(row("student_id", "full_name", "email", "phone",
      "dob", "gender", "city", "state", "enrollment_date", "program_id", "fee_paid",
      "payment_status"))
    for (k <- 0 until size.students) {
      val dup = k % 20 == 19 // keep-first duplicate of an earlier student
      val invalid = k % 30 == 13 // no digits: no staging key
      val num = if (dup) pick(studentNums.toSeq) else 10000 + k
      if (!dup && !invalid) studentNums += num
      val id = if (invalid) "UNKNOWN" else pick(idPrefixes) + num.toString
      if (!invalid) stagedStudentKeys += s"STU$num"
      val first = pick(firstNames); val last = pick(lastNames)
      val name = rnd.nextInt(4) match {
        case 0 => s"${first.toUpperCase} ${last.toUpperCase}"
        case 1 => s"${first.toLowerCase} ${last.toLowerCase}"
        case 2 => s"  $first  $last  "
        case _ => s"$first $last"
      }
      val email = rnd.nextInt(8) match {
        case 0 => s"${first.toLowerCase}@email"
        case 1 => s"${first.toLowerCase}@invalid_email"
        case 2 => ""
        case _ => s"${first.toLowerCase}.${last.toLowerCase}$num@email.com"
      }
      val digits = f"${9000000000L + rnd.nextInt(999999999)}%d"
      val phone = rnd.nextInt(6) match {
        case 0 => digits
        case 1 => s"+91-$digits"
        case 2 => s"${digits.take(5)}-${digits.drop(5)}"
        case 3 => s"+91$digits"
        case 4 => s"${digits.take(5)} ${digits.drop(5)}"
        case _ => s"+91 $digits"
      }
      val gender = pick(Seq("Male", "F", "m", "MALE", "FEMALE", "female", "Other"))
      val (city, state) = cityText()
      val program = pick(Seq("PROG001", "prog001", "prog003", "PROG002", ""))
      val status = pick(Seq("Paid", "paid", "PAID", "pending", "Pending", "partial", ""))
      studentLines += row(id, name, email, phone, dobText(), gender, city, state,
        enrollText(), program, feeText(), status)
      studentsRaw += 1
    }
    write("students_enrollment.csv", studentLines.toSeq)

    // --- progress CSV: literal NULLs, duplicate event ids, malformed rows
    val progressLines = mutable.ArrayBuffer(row("event_id", "student_id", "course_id",
      "event_type", "event_timestamp", "duration_seconds", "score", "module_id",
      "completion_percentage"))
    val progressIds = mutable.ArrayBuffer.empty[String]
    var progressRaw = 0L; var progressDlq = 0L
    // the day's events, a few of them late arrivals from the day before
    val today = date(day)
    def timestamp(): String = {
      val d = if (chance(0.05)) today.minusDays(1) else today
      f"${d}T${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02dZ"
    }
    def studentRef(): String =
      if (studentNums.nonEmpty && chance(0.9)) s"STU${pick(studentNums.toSeq)}"
      else s"STU${20000 + rnd.nextInt(50)}" // not enrolled
    def progressFields(eventId: String, k: Int): Seq[String] = {
      val etype = pick(Seq("video_watched", "quiz_completed", "assignment_submitted"))
      val ts = if (k % 200 == 100) s"${today.plusMonths(6)}T10:00:00Z" else timestamp() // "future" event
      val duration = if (k % 40 == 5) "NULL" else (60 + rnd.nextInt(3600)).toString
      val score =
        if (etype == "video_watched") "NULL"
        else rnd.nextInt(20) match {
          case 0 => "0.0"
          case 1 => "105"
          case 2 => "-10"
          case _ => f"${40 + rnd.nextDouble() * 60}%.1f"
        }
      Seq(eventId, studentRef(), pick(courseIds), etype, ts, duration, score,
        f"MOD${1 + rnd.nextInt(3)}%03d", f"${10 + rnd.nextDouble() * 95}%.1f")
    }
    for (k <- 0 until size.progress) {
      if (k % 100 == 50) {
        // an unquoted comma in the module id: one field too many
        val f = progressFields(s"evt-$day-bad-$k", k)
        progressLines += (f.take(7) ++ Seq("MOD,001") ++ f.drop(8)).mkString(",")
        progressIds += s"evt-$day-bad-$k"
        progressDlq += 1
      } else {
        val id = if (k % 50 == 25) pick(progressIds.toSeq) else s"evt-$day-$k"
        progressIds += id
        progressLines += row(progressFields(id, k): _*)
      }
      progressRaw += 1
    }
    write("student_progress.csv", progressLines.toSeq)

    // --- support tickets: free text with quoted commas, open tickets
    val ticketLines = mutable.ArrayBuffer(row("ticket_id", "student_id", "subject",
      "description", "priority", "status", "category", "created_date", "resolved_date"))
    val subjects = Seq("Video not loading", "Quiz score missing", "Payment issue",
      "Certificate request", "Login problem")
    val ticketIds = mutable.HashSet.empty[String]
    var ticketsRaw = 0L
    for (k <- 0 until size.tickets) {
      val id = if (k % 10 == 9) ticketIds.toSeq.sorted.apply(0) else f"TKT-$day-$k%04d"
      ticketIds += id
      val status = pick(Seq("Open", "In Progress", "Resolved", "Closed"))
      val c = today.minusDays(rnd.nextInt(3).toLong)
      val created =
        if (chance(0.5)) c.toString
        else f"${c.getDayOfMonth}%02d/${c.getMonthValue}%02d/${c.getYear}%04d"
      val resolved = if (status == "Resolved" || status == "Closed") today.toString else ""
      val desc = pick(Seq(
        "The video does not play, not even after a refresh, please help",
        "I submitted the quiz, but the score is not visible",
        "Great course, quick question about the certificate",
        "Payment went through, but access is pending"))
      val sid = if (studentNums.nonEmpty) pick(idPrefixes) + pick(studentNums.toSeq) else "STU00001"
      ticketLines += row(id, sid, pick(subjects), desc, pick(Seq("Low", "Medium", "High", "Critical")),
        status, pick(Seq("Technical", "Billing", "Academic")), created, resolved)
      ticketsRaw += 1
    }
    write("support_tickets.csv", ticketLines.toSeq)

    // --- streaming events: redelivered duplicates and dead-letter payloads
    val eventLines = mutable.ArrayBuffer.empty[String]
    val eventIds = mutable.HashSet.empty[String]
    val eventStudents = mutable.HashSet.empty[String]
    val sent = mutable.ArrayBuffer.empty[String]
    var eventsDlq = 0L
    for (k <- 0 until size.events) {
      k % 50 match {
        case 10 =>
          eventLines += s"""{"event_id": "evt-s$day-$k", "student_id": "STU1"""
          eventsDlq += 1
        case 30 =>
          eventLines += s"""{"payload": $k, "note": "no event id, no student"}"""
          eventsDlq += 1
        case 20 | 40 =>
          eventLines += pick(sent.toSeq) // at-least-once redelivery
        case _ =>
          val f = progressFields(s"evt-s$day-$k", k)
          val fields = Seq("event_id", "student_id", "course_id", "event_type",
            "event_timestamp", "duration_seconds", "score", "module_id",
            "completion_percentage").zip(f)
          // on the wire a missing value is JSON null, not the CSV's literal NULL
          val line = (fields.map { case (k, v) => s"${json(k)}: ${if (v == "NULL") "null" else json(v)}" } ++
            Seq(s""""event_time": ${json(f(4))}""", s""""source": "file-simulator"""")
          ).mkString("{", ", ", "}")
          eventIds += f.head
          eventStudents += f(1)
          sent += line
          eventLines += line
      }
    }
    val perFile = (eventLines.length + size.eventFiles - 1) / size.eventFiles
    eventLines.grouped(perFile).zipWithIndex.foreach { case (lines, i) =>
      write(f"events/part-$i%02d.jsonl", lines.toSeq)
    }

    Planted(
      day = day, studentsRaw = studentsRaw, studentsStaged = stagedStudentKeys.size.toLong,
      progressRaw = progressRaw, progressStaged = progressIds.distinct.size.toLong,
      progressDlq = progressDlq, coursesRaw = courseIds.size.toLong,
      ticketsRaw = ticketsRaw, ticketsStaged = ticketIds.size.toLong,
      eventLines = eventLines.length.toLong, eventsDlq = eventsDlq,
      eventsStaged = eventIds.size.toLong, eventStudents = eventStudents.size.toLong,
      bytes = bytes)
  }
}
