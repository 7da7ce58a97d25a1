package graft.tools

import java.nio.file.{Files, Path, Paths}

/** The reference-shaped CSV fixture committed under
  * `src/test/resources/refdata`: the four bank entities
  * (config/config.py TABLE_SCHEMAS) with the reference's own row counts
  * where they are cheap to keep (26 branch rows → 25 staged, 2007 loan
  * rows → 2006 staged), a smaller customers file, and hand-written rows
  * for every dirty case the specs name: ₹/$/comma amounts, d-m-Y,
  * Y-m-d and 2-digit-year dates with the century pivot and the
  * day/month swap, NA/blank/NULL values, and a state keyword for every
  * region. The generated bulk comes from [[ScaleFixture]] and
  * [[TransactionsFixture]], so every count is known by construction.
  *
  * Regenerate (after changing a generator) with
  *   sbt "Test/runMain graft.tools.RefFixture src/test/resources/refdata"
  * PipelineSpec checks that the committed bytes are this generator's.
  */
object RefFixture {

  /** The committed fixture's directory, from the test classpath. */
  def dir: String = Paths.get(getClass.getResource("/refdata").toURI).toString

  val plantedBranches: Seq[Seq[String]] = Seq(
    Seq("QT0001", "Amritsar Main", "amritsar", "Punjab", "R. Singh"),
    Seq("QT0002", "Connaught Place", "NEW DELHI", "DELHI", "A. Kapoor"),
    Seq("QT0003", "Andheri East", "Mumbai", "Maharashtra", "S. Patil"),
    Seq("QT0004", "Navrangpura", "ahmedabad", " gujarat ", "M. Shah"),
    Seq("QT0005", "MG Road", "Bengaluru", "Karnataka", "K. Rao"),
    Seq("QT0006", "T Nagar", "Chennai", "Tamil Nadu", "P. Iyer"),
    Seq("QT0007", "Park Street", "Kolkata", "West Bengal", "D. Sen"),
    Seq("QT0008", "Boring Road", "Patna", "BIHAR", "N. Kumar"),
    Seq("QT0009", "NA", "Panaji", "NULL", ""))

  val plantedCustomers: Seq[Seq[String]] = Seq(
    // id, branch, first, last, dob, gender, email, phone, address, opened
    Seq("1", "QT0001", "Aarav", "Sharma", "13-03-1985", "M",
      "Aarav.Sharma@Example.COM", "9876543210", "12, MG Road, Amritsar",
      "2015-06-01"),
    Seq("2", "QT0002", "priya", "VERMA", "05-03-1990", "female",
      "priya@example.org", "9876543211", "4 Janpath, New Delhi", "05-03-2012"),
    Seq("3", "QT0003", "Rohan", "Mehta", "1992-11-23", "MALE", "NA",
      "NA", "7, Linking Road, Mumbai", "23/11/2019"),
    Seq("4", "QT0004", "Sneha", "Iyer", "13-03-99", "F", "", "",
      "Flat 2, CG Road, Ahmedabad", "01.01.20"),
    Seq("5", "QT0005", "Vikram", "Rao", "03-13-01", "m", "NULL", "NULL",
      "NULL", "15-08-26"),
    Seq("6", "QT0006", "Ananya", "Das", "01-01-27", "f", "ANANYA@MAIL.IN",
      "9876543215", "3 Usman Road, Chennai", "31-12-25"),
    Seq("7", "QT0007", "Kabir", "Khan", "NA", "N", "kabir@example.org",
      "9876543216", "NA", "NA"),
    Seq("8", "QT0008", "Isha", "Gupta", "", "Female", "isha@example.org",
      "9876543217", "", ""),
    Seq("9", "QT0009", "Arjun", "Nair", "NULL", "male", "arjun@example.org",
      "9876543218", "9, Beach Road, Panaji", "NULL"),
    Seq("10", "QT0001", "Meera", "Joshi", "29-02-2000", "other",
      "meera@example.org", "9876543219", "10 Mall Road, Amritsar",
      "29-02-2021"),
    Seq("11", "QT0002", "Dev", "Malhotra", "31-04-1988", "",
      "Dev@Example.org", "9876543220", "11 Ring Road, Delhi", "2027-01-01"),
    Seq("12", "QT0003", "Zoya", "Ali", "2030-05-01", "M", "zoya@example.org",
      "9876543221", "12 Hill Road, Mumbai", "01-02-2018"))

  val plantedLoans: Seq[Seq[String]] = Seq(
    // id, customer, type, amount, rate, start, end, status
    // loan 1 is the reference's loans.csv:2: 545642.51 → High, 96 months
    Seq("1", "1", "Home", "545642.51", "8.50", "13-03-11", "13-03-19", "Closed"),
    Seq("2", "2", "Car", "₹1,23,456.00", "9.25", "2015-06-01", "2020-06-01",
      "Active"),
    Seq("3", "3", "Personal", "$ 2,500.00", "12.00", "01-06-2015",
      "01-06-2017", "closed"),
    Seq("4", "4", "Education", "1,050,000", "7.10", "05-03-2012",
      "13-03-2022", "ACTIVE"),
    Seq("5", "5", "Gold", "NA", "10.00", "03-25-11", "03-25-14", "Default"),
    Seq("6", "6", "Home", "", "8.00", "01-01-99", "01-01-09", "Closed"),
    Seq("7", "7", "car", "NULL", "9.00", "31-04-15", "01-05-20", "active"),
    Seq("8", "8", "Personal", " 75000.50 ", "NA", "2018-02-29", "2019-02-28",
      "Active"),
    Seq("9", "9", "Home", "500000", "8.75", "01-01-26", "01-01-27", "Active"),
    Seq("10", "10", "Education", "₹ 5,00,001", "6.50", "15/07/2016",
      "15.07.2024", "Closed"))

  /** Raw rows → staged: branches 26 → 25, customers 1020 → 1012,
    * loans 2007 → 2006, transactions 525 → 500.
    */
  def write(dir: Path): ScaleFixture.Fixture = {
    Files.createDirectories(dir)
    ScaleFixture.Fixture(
      branches = ScaleFixture.writeBranches(dir.resolve("branches.csv"),
        n = 16, dups = 0, emptyPk = 1, planted = plantedBranches),
      customers = ScaleFixture.writeCustomers(dir.resolve("customers.csv"),
        n = 1000, nBranches = 25, dups = 5, emptyPk = 3,
        planted = plantedCustomers),
      loans = ScaleFixture.writeLoans(dir.resolve("loans.csv"),
        n = 1996, nCustomers = 1012, dups = 1, emptyPk = 0,
        planted = plantedLoans),
      transactions = TransactionsFixture.write(
        dir.resolve("transactions.csv"), n = 500, dupCount = 15,
        emptyPkCount = 10))
  }

  def main(args: Array[String]): Unit = {
    val fx = write(Paths.get(args.headOption.getOrElse(
      "src/test/resources/refdata")))
    println(s"[refdata] $fx")
  }
}
