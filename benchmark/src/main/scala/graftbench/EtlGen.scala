package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded generator of the four sheet-shaped CSVs the daily ETL reads
  * (FIXTURES.md §A shapes), with the dirty-data mix the pipeline is
  * built to absorb: padding rows before each header, duplicate primary
  * keys, unparseable timestamps, orphan foreign keys, null first
  * installment dates, payment-method case variants and a non-canonical
  * `fecha de pago` header.
  *
  * Besides the files it derives, independently of the program, what
  * each replayed day's `EtlSummary` must read.
  */
object EtlGen {

  /** Sizes; the student master is large enough that its warehouse
    * table exceeds the program's 8 MB driver-side read bound.
    */
  final case class Sizes(students: Int, courses: Int, historyDays: Int,
                         enrollmentsPerDay: Int, paymentsPerDay: Int)

  val DefaultSizes: Sizes = Sizes(students = 220000, courses = 300,
    historyDays = 60, enrollmentsPerDay = 300, paymentsPerDay = 400)

  /** What `Pipeline.run` must report for one target date. */
  final case class Expected(cursos: Long, estudiantes: Long,
                            matriculas: Long, pagos: Long)

  final case class Inputs(dir: Path, days: IndexedSeq[LocalDate],
                          expected: Map[LocalDate, Expected],
                          /** data rows per sheet file, padding excluded */
                          sheetRows: Map[String, Long],
                          sheetBytes: Map[String, Long],
                          digest: String) {
    def path(sheet: String): String = dir.resolve(sheet).toString
    /** Sheet rows one pipeline run scans (every sheet, whole). */
    def rowsPerRun: Long = sheetRows.values.sum
    def bytesPerRun: Long = sheetBytes.values.sum
  }

  val Sheets: Seq[String] = Seq("raw_cursos.csv", "raw_estudiantes.csv",
    "raw_matriculas.csv", "raw_pagos.csv")

  val FirstDay: LocalDate = LocalDate.of(2026, 3, 2)

  private val FirstNames = Vector("juan", "maria", "carlos", "ana", "luis",
    "rosa", "jorge", "lucia", "pedro", "sofia", "miguel", "elena", "jose",
    "carmen", "diego", "paula", "raul", "teresa", "andres", "julia",
    "victor", "laura", "mario", "isabel", "hugo", "beatriz", "oscar",
    "silvia", "ivan", "monica")
  private val LastNames = Vector("pérez", "lópez", "garcía", "rodríguez",
    "martínez", "sánchez", "ramírez", "torres", "flores", "rivera",
    "gómez", "díaz", "vargas", "castro", "romero", "herrera", "medina",
    "aguilar", "rojas", "quispe", "mamani", "huamán", "chávez", "mendoza",
    "silva", "ortiz", "morales", "delgado", "vega", "ruiz")
  private val Domains = Vector("gmail.com", "hotmail.com", "outlook.es",
    "yahoo.com", "uni.edu.pe", "mail.com")
  /** Phone prefixes the country detector knows, plus one it does not. */
  private val PhonePrefixes = Vector("51", "52", "521", "549", "569", "57",
    "593", "591", "507", "55", "1", "39", "34", "33", "49", "888")
  private val Generos = Vector("Masculino", "Femenino", "Otro")
  private val Redes = Vector("Facebook", "Instagram", "TikTok", "LinkedIn",
    "Recomendación")
  private val Grados = Vector("Universitario", "Técnico", "Secundaria",
    "Bachiller", "Maestría")
  private val CourseNames = Vector("Diseño Estructural", "Concreto Armado",
    "Análisis Sísmico", "Mecánica de Suelos", "Hidráulica", "BIM Revit",
    "Costos y Presupuestos", "Gestión de Obras")
  /** Courses whose name does not start with "P": dropped by the W2
    * filter.
    */
  private val FreeCourses = Vector("Taller libre", "Curso libre",
    "Seminario abierto")
  /** Method cells: map hits, case/whitespace variants, and misses. */
  private val MethodsFirst = Vector("YAPE", "yape", " Yape ", "PLIN",
    "banco de la nación", "BANCO DE LA NACIÓN", "BCP", "bcp", "Interbank",
    "SCOTIABANK", "Efectivo Tienda", "Tarjeta link")
  private val MethodsRegular = Vector("BANCO DE MÉXICO", "Banco de México",
    "PAYPAL", "Paypal", "BANCO DE CHILE", "Banco de Chile", "BCP", "yape",
    "Banco de Ecuador", "BANCO DE MÉXICO / P", "Efectivo Tienda")
  private val Encargados = Vector("A. Torres", "B. Ramos", "C. Salas")

  private def dmy(d: LocalDate): String =
    s"${d.getDayOfMonth}/${d.getMonthValue}/${d.getYear}"

  private def stamp(d: LocalDate, r: SplittableRandom): String =
    f"${dmy(d)} ${r.nextInt(7, 22)}%d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d"

  private def pick[T](v: Vector[T], r: SplittableRandom): T = v(r.nextInt(v.size))

  /** A random 10-character handle: e-mail addresses are unique. */
  private def token(r: SplittableRandom): String = {
    val cs = new Array[Char](10)
    var i = 0
    while (i < cs.length) { cs(i) = Alnum.charAt(r.nextInt(Alnum.length)); i += 1 }
    new String(cs)
  }
  private val Alnum = "abcdefghijklmnopqrstuvwxyz0123456789"

  private def chance(r: SplittableRandom, p: Double): Boolean = r.nextDouble() < p

  /** Random upper/lower/title casing and stray padding. */
  private def messy(s: String, r: SplittableRandom): String = {
    val cased = r.nextInt(4) match {
      case 0 => s.toUpperCase
      case 1 => s.split(' ').map(w => w.take(1).toUpperCase + w.drop(1))
        .mkString(" ")
      case _ => s
    }
    if (chance(r, 0.2)) s"  $cased " else cased
  }

  /** One sheet's text: `padding` filler rows, then header and rows. */
  private final class Sheet(padding: Seq[String], header: String) {
    val sb = new java.lang.StringBuilder(1 << 20)
    var rows = 0L
    padding.foreach(p => sb.append(p).append('\n'))
    sb.append(header).append('\n')
    def row(cells: String*): Unit = {
      sb.append(cells.mkString(",")).append('\n'); rows += 1
    }
    /** An all-empty filler row inside the data (dropped by the reader). */
    def blank(width: Int): Unit = sb.append("," * (width - 1)).append('\n')
    def bytes: Array[Byte] = sb.toString.getBytes(UTF_8)
  }

  /** Writes the four sheets under `dir` and derives the expected
    * per-day summaries. The same `seed` and `sizes` give byte-identical
    * files.
    */
  def generate(seed: Long, dir: Path, sizes: Sizes = DefaultSizes): Inputs = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    Files.createDirectories(dir)

    // ---- cursos: header row 2; one duplicated code (keep-last) and
    // one unparseable start date
    val cursos = new Sheet(Seq("REGISTRO DE CURSOS 2026,,,,,,"),
      "CÓDIGO_C,NOMBRE_C,I1,FECHA DE INICIO,FECHA DE TERMINO,PROFESOR,HORARIOS")
    val courseCodes = (0 until sizes.courses).map(i => s"P${100 + i}")
    courseCodes.zipWithIndex.foreach { case (code, i) =>
      val start = FirstDay.minusDays(r.nextInt(30, 200))
      cursos.row(code, s"${pick(CourseNames, r)} ${i % 4 + 1}",
        (r.nextInt(1, 9)).toString,
        if (i == 1) "por definir" else dmy(start),
        dmy(start.plusDays(90)), f"T${r.nextInt(1, 40)}%02d ${pick(FirstNames, r)}",
        s"Lun-Mie ${r.nextInt(8, 21)}:00")
    }
    cursos.row(courseCodes(0), s"${CourseNames(0)} v2", "3", dmy(FirstDay),
      dmy(FirstDay.plusDays(90)), "T07 maria", "Lun-Mie 19:00")

    // ---- estudiantes: header row 2; ~1% duplicated codes
    val est = new Sheet(Seq("REGISTRO DE ESTUDIANTES,,,,,,,"),
      "CODIGO_E,NOMBRES_E,APELLIDOS_E,CORREO_E,NUMERO_E,GÉNERO_E," +
        "RED DE CONTACTO_E,GRADO DE INSTRUCCIÓN_E")
    val studentCodes = (0 until sizes.students).map(i => f"E$i%07d")
    def studentRow(code: String): Unit = {
      val f1 = pick(FirstNames, r)
      val f2 = if (chance(r, 0.5)) s" ${pick(FirstNames, r)}" else ""
      val l1 = pick(LastNames, r)
      val l2 = pick(LastNames, r)
      val phone =
        if (chance(r, 0.03)) ""
        else {
          val p = pick(PhonePrefixes, r)
          val sb = new java.lang.StringBuilder("+").append(p).append(' ')
          (0 until (if (p == "1") 10 else 9)).foreach { i =>
            if (i == 3) sb.append(' ')
            sb.append(('0' + r.nextInt(10)).toChar)
          }
          sb.toString
        }
      est.row(code, messy(f1 + f2, r), messy(s"$l1 $l2", r),
        messy(s"${f1}.${l1}.${token(r)}@${pick(Domains, r)}", r),
        phone, pick(Generos, r), pick(Redes, r), pick(Grados, r))
    }
    studentCodes.foreach { code =>
      studentRow(code)
      if (chance(r, 0.01)) studentRow(code) // keep-last duplicate
    }

    // ---- matriculas: header row 3; the enrollment history
    val mat = new Sheet(Seq("MATRICULAS,,,,,,,,,,,", ",,,,,,,,,,,"),
      "Marca temporal,Código de matrícula,Cursos de matrícula,num cursos," +
        "Fecha de pago de la primera cuota,Condición del alumno," +
        "Código de estudiante FINAL,Monto de Pago,Primera Cuota," +
        "Método de Pago,Moneda,Encargado de Registro")
    val days = (0 until sizes.historyDays).map(i => FirstDay.plusDays(i.toLong))
    // per day: valid enrollment codes, and first-installment pagos rows
    val valid = mutable.Map[LocalDate, Set[String]]()
    val pagos1 = mutable.Map[LocalDate, Long]().withDefaultValue(0L)
    days.zipWithIndex.foreach { case (day, di) =>
      val dayValid = mutable.LinkedHashMap[String, Boolean]()
      // codes with a parseable first-installment date, per raw row
      val firstInstallment = mutable.ArrayBuffer[String]()
      (0 until sizes.enrollmentsPerDay).foreach { j =>
        val code = f"M-$di%03d-$j%04d"
        val free = chance(r, 0.08)
        val course =
          if (free) pick(FreeCourses, r)
          else s"${pick(courseCodes.toVector, r)} ${pick(CourseNames, r)}"
        val orphan = chance(r, 0.03)
        val student =
          if (orphan) f"E9${r.nextInt(1000000)}%06d" // not in the master
          else studentCodes(r.nextInt(studentCodes.size))
        val nullFirst = chance(r, 0.03)
        val badStamp = chance(r, 0.02)
        val copies = if (chance(r, 0.02)) 2 else 1 // duplicate PK pair
        (1 to copies).foreach { c =>
          val monto = if (chance(r, 0.02)) "abc" else f"${r.nextInt(100, 900)}%d.${r.nextInt(100)}%02d"
          mat.row(
            if (badStamp) "pendiente" else stamp(day, r),
            code, course, r.nextInt(1, 4).toString,
            if (nullFirst) "" else dmy(day.minusDays(r.nextInt(2).toLong)),
            if (chance(r, 0.1)) "Becado" else "Regular", student, monto,
            f"${r.nextInt(50, 300)}%d.00", pick(MethodsFirst, r), "PEN",
            pick(Encargados, r))
          if (!badStamp) {
            dayValid(code) = !free && !orphan
            if (!nullFirst) firstInstallment += code
          }
        }
        if (chance(r, 0.01)) mat.blank(12)
      }
      val v = dayValid.collect { case (c, true) => c }.toSet
      valid(day) = v
      pagos1(day) = firstInstallment.count(v)
    }

    // ---- pagos: header row 6 with a non-canonical date header
    val pag = new Sheet(Seq.fill(5)(",,,,,"),
      "Marca temporal,Código de matrícula,Monto de Pago,Método de Pago," +
        "fecha de pago,Encargado de Registro")
    val pagos2 = mutable.Map[LocalDate, Long]().withDefaultValue(0L)
    days.zipWithIndex.foreach { case (day, di) =>
      val v = valid(day).toVector.sorted
      (0 until sizes.paymentsPerDay).foreach { j =>
        // orphans: codes of another day, or of no enrollment at all
        val code = r.nextInt(20) match {
          case 0 => f"M-${(di + 1) % sizes.historyDays}%03d-${r.nextInt(sizes.enrollmentsPerDay)}%04d"
          case 1 => f"M-999-$j%04d"
          case _ => v(r.nextInt(v.size))
        }
        val nullFecha = chance(r, 0.03)
        val badStamp = chance(r, 0.02)
        pag.row(if (badStamp) "sin registro" else stamp(day, r), code,
          f"${r.nextInt(20, 400)}%d.${r.nextInt(100)}%02d",
          pick(MethodsRegular, r), if (nullFecha) "" else dmy(day),
          pick(Encargados, r))
        if (!badStamp && !nullFecha && valid(day)(code)) pagos2(day) += 1
      }
    }

    val files = Map("raw_cursos.csv" -> cursos, "raw_estudiantes.csv" -> est,
      "raw_matriculas.csv" -> mat, "raw_pagos.csv" -> pag)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val bytes = Sheets.map { name =>
      val b = files(name).bytes
      Files.write(dir.resolve(name), b)
      md.update(name.getBytes(UTF_8)); md.update(b)
      name -> b.length.toLong
    }.toMap
    val nCursos = courseCodes.size.toLong
    val nEst = studentCodes.size.toLong
    val expected = days.map { d =>
      d -> Expected(nCursos, nEst, valid(d).size.toLong, pagos1(d) + pagos2(d))
    }.toMap
    Inputs(dir, days, expected,
      files.map { case (k, s) => k -> s.rows }, bytes,
      md.digest().map("%02x".format(_)).mkString.take(16))
  }
}
