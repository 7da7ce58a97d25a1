"""Seeded CSV fixture for the etl_daily workload.

The shape follows graft's test-scope ScaleFixture/TransactionsFixture:
the four reference entities (branches, customers, loans, transactions)
at `mult` times the reference volume, with planted dirty dates and
amounts, empty primary keys and keep-last duplicate shadows. Row counts
after the load are known by construction; so are the counts after the
day-2 delta, which adds about 5% new keys and re-sends about 1% of the
existing keys with changed values (those must not be appended).

The same seed gives the same bytes.
"""
import os
import random

ENTITIES = ("branches", "customers", "loans", "transactions")

HEADERS = {
    "branches": "branch_id,branch_name,city,state,manager_name",
    "customers": "customer_id,branch_id,first_name,last_name,dob,gender,"
                 "email,phone,address,account_open_date",
    "loans": "loan_id,customer_id,loan_type,loan_amount,interest_rate,"
             "start_date,end_date,loan_status",
    "transactions": "transaction_id,customer_id,transaction_date,"
                    "transaction_type,amount,balance_after,fraud_flag",
}

NEW_SHARE = 0.05
RESEND_SHARE = 0.01


def _field(s):
    if "," in s or '"' in s:
        return '"' + s.replace('"', '""') + '"'
    return s


def _write(path, entity, rows):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(HEADERS[entity] + "\n")
        for r in rows:
            f.write(",".join(_field(x) for x in r) + "\n")
    return os.path.getsize(path)


def _dmy(rnd, y0, span):
    return "%02d-%02d-%02d" % (1 + rnd.randrange(28), 1 + rnd.randrange(12),
                               y0 + rnd.randrange(span))


def _amount(rnd, i, cents):
    v = rnd.randrange(cents) / 100.0
    if i % 41 == 0:
        return "junk"
    if i % 13 == 0:
        return "₹{:,.2f}".format(v)
    return "%.2f" % v


def _branch(rnd, i, tag=""):
    cities = ("Mango", "Howrah", "Bhiwani", "Pune", "Salem")
    states = ("Punjab", "Uttar Pradesh", "Kerala", "Bihar", "Goa")
    return ["QT%04d" % i, "Branch-%d%s" % (i, tag), rnd.choice(cities),
            rnd.choice(states), "Manager %d" % i]


def _customer(rnd, i, n_branches, key=None):
    genders = ("F", "M", "f", "m", "female", "MALE", "")
    if i % 97 == 0:
        dob = "31-04-88"  # invalid calendar day: the transform nulls it
    elif i % 89 == 0:
        dob = "not-a-date"
    else:
        dob = _dmy(rnd, 0, 100)
    return [key or str(i), "QT%04d" % (1 + rnd.randrange(n_branches)),
            "First%d" % i, "last%d" % i, dob, rnd.choice(genders),
            "user%d@example.org" % i, "%d" % (7000000000 + i),
            "%d/%d, Some Nagar, City-%d" % (i % 99, i % 900, 100000 + i % 800000),
            _dmy(rnd, 0, 25)]


def _loan(rnd, i, n_customers):
    start = "31-04-15" if i % 83 == 0 else _dmy(rnd, 10, 12)
    return [str(i), str(1 + rnd.randrange(n_customers)),
            rnd.choice(("Home", "Car", "Personal", "Education", "Gold")),
            _amount(rnd, i, 100000000),
            ("%d.%02d" % (500 + rnd.randrange(1200), rnd.randrange(100)))[:5],
            start, _dmy(rnd, 22, 10),
            rnd.choice(("Closed", "Default", "Active"))]


PLANTED_TX = [
    ["1", "101", "13-03-21", "deposit", "500.25", "500.25", "true"],
    ["2", "102", "05-03-21", "Withdrawal", "1500", "2000.00", "false"],
    ["3", "103", "2021-03-13", "TRANSFER", "15000.75", "17000", "1"],
    ["4", "104", "13/03/21", "payment", "999.99", "16000", "0"],
    ["5", "105", "13.03.99", "upi", "1000", "15000", "yes"],
    ["6", " 106 ", "28-02-21", "deposit", "1000.01", "16000", "y"],
    ["7", "107", "01-01-20", "deposit", "₹12,345.67", "20000", "no"],
    ["8", "108", "02-01-20", "withdrawal", "abc", "20000", "TRUE"],
    ["9", "109", "03-01-20", "deposit", "$ 2,500.00", "22500", "N"],
    ["10", "110", "31-04-21", "deposit", "50", "60", "maybe"],
    ["11", "111", "garbage", "DEPOSIT", "75.5", "135.5", "YES"],
    ["12", "", "04-01-20", "transfer", "-250.00", "-114.5", " "],
    ["13", "113", "05-01-20", "deposit", "1", "1", "true"],
]


def _transaction(rnd, i, n_customers):
    if i % 97 == 0:
        date = "31-04-21"
    elif i % 89 == 0:
        date = "not-a-date"
    elif i % 83 == 0:
        date = ""
    else:
        date = _dmy(rnd, 10, 15)
    return [str(i), str(1 + rnd.randrange(n_customers)), date,
            rnd.choice(("deposit", "Withdrawal", "TRANSFER", "payment", "upi")),
            _amount(rnd, i, 2000000), "%.2f" % (rnd.randrange(5000000) / 100.0),
            rnd.choice(("true", "false", "1", "0", "yes", "y", "no", "TRUE", "N", ""))]


def _empty_pk(i):
    return "" if i % 2 == 0 else "  "


def sizes(mult):
    """Base key count, keep-last shadows and empty-PK rows per entity."""
    return {
        "branches": (26 * mult, 2 * mult, mult),
        "customers": (5024 * mult, 15 * mult, 10 * mult),
        "loans": (2007 * mult, 8 * mult, 5 * mult),
        "transactions": (3000 * mult, 15, 10),
    }


def _base_rows(entity, rnd, n, dups, empty, counts):
    nb, nc = counts["branches"][0], counts["customers"][0]
    if entity == "branches":
        rows = [_branch(rnd, i) for i in range(1, n + 1)]
        rows += [["QT%04d" % i, "Branch-%d-LAST" % i, "Pune", "Goa",
                  "Manager %d B" % i] for i in range(1, dups + 1)]
        rows += [[_empty_pk(i), "Ghost", "X", "Y", "Z"] for i in range(1, empty + 1)]
    elif entity == "customers":
        # padded keys stay outside the shadow range: staging dedups on the
        # raw string, so " 61 " and "61" are different keys
        rows = [_customer(rnd, i, nb, " %d " % i if i % 61 == 0 and i > dups else None)
                for i in range(1, n + 1)]
        rows += [[str(i), "QT0001", "First%d" % i, "LAST-SHADOW", "01-01-90", "F",
                  "user%d@example.org" % i, "7000000001",
                  "1/1, Shadow Road, City-111111", "02-02-12"]
                 for i in range(1, dups + 1)]
        rows += [[_empty_pk(i), "QT0001", "G", "H", "01-01-90", "F", "g@example.org",
                  "7000000002", "nowhere", "02-02-12"] for i in range(1, empty + 1)]
    elif entity == "loans":
        rows = [_loan(rnd, i, nc) for i in range(1, n + 1)]
        rows += [[str(i), "1", "Home", "99999.99", "9.99", "01-01-20", "01-01-28",
                  "Active"] for i in range(1, dups + 1)]
        rows += [[_empty_pk(i), "1", "Car", "1.00", "1.00", "01-01-20", "01-01-21",
                  "Closed"] for i in range(1, empty + 1)]
    else:
        rows = [list(r) for r in PLANTED_TX]
        rows += [_transaction(rnd, i, nc) for i in range(len(PLANTED_TX) + 1, n + 1)]
        # shadows use ids past the planted block so those stay intact
        rows += [[str(i), str(100 + i), "15-06-22", "deposit", "77777.77",
                  "88888.88", "true"] for i in range(21, 21 + dups)]
        rows += [[_empty_pk(i), "200", "16-06-22", "deposit", "1.00", "2.00",
                  "false"] for i in range(1, empty + 1)]
    return rows


def _key(entity, i):
    return "QT%04d" % i if entity == "branches" else str(i)


def _delta_rows(entity, rnd, n, dups, counts):
    """Day-2 file: new keys n+1.., then re-sent clean existing keys."""
    nb, nc = counts["branches"][0], counts["customers"][0]
    n_new = max(1, round(n * NEW_SHARE))
    make = {
        "branches": lambda i: _branch(rnd, i, "-D2"),
        "customers": lambda i: _customer(rnd, i, nb),
        "loans": lambda i: _loan(rnd, i, nc),
        "transactions": lambda i: _transaction(rnd, i, nc),
    }[entity]
    rows = [make(i) for i in range(n + 1, n + n_new + 1)]
    # re-sent keys: plain keys only (no shadow, padded or planted ids)
    lo = max(dups, 20 if entity == "transactions" else 0) + 1
    pool = [i for i in range(lo, n + 1) if not (entity == "customers" and i % 61 == 0)]
    resent = rnd.sample(pool, max(1, round(n * RESEND_SHARE)))
    for i in sorted(resent):
        r = make(i)
        r[0] = _key(entity, i)
        rows.append(r)
    return rows, n_new


def write_day1(csv_dir, mult, seed):
    """Writes <entity>.csv for all four entities. Returns, per entity,
    the production row count the load must reach and the file's bytes."""
    os.makedirs(csv_dir, exist_ok=True)
    counts = sizes(mult)
    out = {}
    for k, entity in enumerate(ENTITIES):
        n, dups, empty = counts[entity]
        rnd = random.Random(seed * 1000 + k)
        size = _write(os.path.join(csv_dir, entity + ".csv"), entity,
                      _base_rows(entity, rnd, n, dups, empty, counts))
        out[entity] = {"rows": n, "bytes": size}
    return out


def write_day2(csv_dir, mult, seed):
    """Writes <entity>_d2.csv. Returns, per entity, the number of new keys
    and the file's bytes."""
    os.makedirs(csv_dir, exist_ok=True)
    counts = sizes(mult)
    out = {}
    for k, entity in enumerate(ENTITIES):
        n, dups, _ = counts[entity]
        rnd = random.Random(seed * 1000 + 500 + k)
        rows, n_new = _delta_rows(entity, rnd, n, dups, counts)
        size = _write(os.path.join(csv_dir, entity + "_d2.csv"), entity, rows)
        out[entity] = {"rows": n_new, "bytes": size}
    return out
