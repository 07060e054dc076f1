"""Seeded synthetic business-owners CSV (FIXTURES.md section 1 schema).

One row per (business, owner) pair. Multi-owner accounts repeat the
account number. The rows cover every fixture kind the reference's
cleaning has to handle: NA sentinels, padded and mixed-case strings,
corporate owners (name parts missing, legal entity set), individuals
with and without middle initial and suffix, rows with every name part
missing, names with digits and special characters, and legal names
with LLC / INC / CORP / LTD tokens.

The engine only ever sees the file this module writes.

    python3 perfbench/owners_csv.py --seed 7 --rows 1000 --out owners.csv
"""

import argparse
import csv
import hashlib
import io
import sys
from collections import Counter

HEADER = ["Account Number", "Legal Name", "Owner First Name",
          "Owner Middle Initial", "Owner Last Name", "Suffix",
          "Legal Entity Owner", "Title"]
NA_SENTINELS = ["", " ", "N/A", "NULL", "null"]
# account multiplicity -> weight (per mille); most businesses have one owner
MULTIPLICITY = [(1, 550), (2, 250), (3, 110), (4, 50), (5, 20), (6, 10), (8, 10)]
TITLES = ["CEO", "PRESIDENT", "MANAGING MEMBER", "MANAGER", "DIRECTOR", "OWNER",
          "SHAREHOLDER", "PARTNER", "MEMBER", "OTHER", "SECRETARY", "TREASURER"]
FIRST = ["JAMES", "MARY", "ROBERT", "PATRICIA", "JOHN", "JENNIFER", "MICHAEL",
         "LINDA", "DAVID", "ELIZABETH", "WILLIAM", "BARBARA", "RICHARD", "SUSAN",
         "JOSEPH", "JESSICA", "THOMAS", "SARAH", "CELSO", "MARIA", "JOSE", "ANA",
         "WEI", "MIN", "FATIMA", "AHMED", "OLGA", "IVAN", "RON", "KIM", "LUIS",
         "ROSA", "CARLOS", "ELENA", "OMAR", "AISHA", "PETER", "GRACE", "MOHAMMED",
         "YUKI"]
LAST = ["SMITH", "JOHNSON", "WILLIAMS", "BROWN", "JONES", "GARCIA", "MILLER",
        "DAVIS", "RODRIGUEZ", "MARTINEZ", "HERNANDEZ", "LOPEZ", "GONZALEZ",
        "WILSON", "ANDERSON", "THOMAS", "TAYLOR", "MOORE", "JACKSON", "MARTIN",
        "LEE", "PEREZ", "THOMPSON", "WHITE", "HARRIS", "SANCHEZ", "CLARK",
        "RAMIREZ", "LEWIS", "ROBINSON", "O'BRIEN", "MC DONALD", "DE LA CRUZ",
        "PERDOMO VARGAS", "NGUYEN", "KIM", "PATEL", "SHAH", "COHEN", "KOWALSKI",
        "ST. JAMES", "VAN DER BERG", "MULLER-SCHMIDT", "ABU-BAKR", "CHEN", "WANG"]
SUFFIXES = ["JR", "SR", "II", "III", "IV"]
WORDS = ["MERCER", "LAKESHORE", "WINDY CITY", "MIDWAY", "PRAIRIE", "HARBOR",
         "NORTH SHORE", "LOOP", "WEST SIDE", "PILSEN", "BRONZEVILLE", "UPTOWN",
         "LINCOLN", "HYDE PARK", "RIVER NORTH", "GOLD COAST", "CAPITAL",
         "GLOBAL", "UNITED", "PREMIER", "ELITE", "ROYAL", "ACE", "BEST"]
TRADES = ["CONSTRUCTION", "LOGISTICS", "FOODS", "AUTO REPAIR", "CLEANERS",
          "INVESTMENTS", "HOLDINGS", "CONSULTING", "DENTAL", "BAKERY", "TRUCKING",
          "IMPORTS", "REALTY", "PHARMACY", "SALON", "GRILL"]
FORMS = ["LLC", "INC", "CORP", "LTD", "INC.", "L.L.C.", "CORPORATION", "CO", ""]


class SplitMix64:
    """Small portable PRNG: the same seed gives the same stream on every
    Python version and platform.
    """

    MASK = (1 << 64) - 1

    def __init__(self, seed):
        # mix the seed, so nearby seeds do not give shifted copies of
        # one stream
        self.state = self._mix(seed & self.MASK)

    @classmethod
    def _mix(cls, z):
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & cls.MASK
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & cls.MASK
        return z ^ (z >> 31)

    def next(self):
        self.state = (self.state + 0x9E3779B97F4A7C15) & self.MASK
        return self._mix(self.state)

    def below(self, n):
        return self.next() % n

    def pct(self):
        return self.below(100)

    def pick(self, xs):
        return xs[self.below(len(xs))]


def _weighted(rng, table):
    r = rng.below(sum(w for _, w in table))
    for value, w in table:
        if r < w:
            return value
        r -= w
    return table[-1][0]


def _messy(rng, s):
    """Mixed case or padding on a share of values; cleaning must undo it."""
    roll = rng.pct()
    if roll < 8:
        s = s.lower()
    elif roll < 14:
        s = s.title()
    roll = rng.pct()
    if roll < 6:
        s = "  " + s
    elif roll < 12:
        s = s + " "
    return s


def _legal_name(rng, account):
    shape = rng.below(10)
    form = rng.pick(FORMS)
    if shape < 4:
        base = f"{rng.pick(LAST)} {rng.pick(TRADES)}"
    elif shape < 7:
        base = f"{rng.pick(WORDS)} {rng.pick(TRADES)}"
    elif shape < 8:
        base = f"{rng.pick(LAST)}, {rng.pick(LAST)} & {rng.pick(['SONS', 'ASSOCIATES'])}"
    elif shape < 9:
        base = f"{rng.pick(WORDS)} {rng.pick(TRADES)} #{account % 997}"
    else:
        base = f"{rng.below(99) + 1}-{rng.pick(WORDS)} {rng.pick(TRADES)}"
    return f"{base} {form}".strip()


def _owner(rng, used):
    """One owner row's (first, middle, last, suffix, entity) fields."""
    kind = rng.pct()
    na = lambda: rng.pick(NA_SENTINELS)
    if kind < 10:  # corporate owner: name parts missing, entity set
        entity = f"{rng.pick(WORDS)} {rng.pick(['HOLDINGS', 'PARTNERS', 'CAPITAL'])} " \
                 f"{rng.pick(['LLC', 'INC', 'CORP', 'LTD'])}"
        return na(), na(), na(), na(), entity
    if kind < 12:  # every name part missing, no entity
        return na(), na(), na(), na(), na()
    for _ in range(50):
        first, last = rng.pick(FIRST), rng.pick(LAST)
        if (first, last) not in used:
            break
    used.add((first, last))
    middle = chr(ord("A") + rng.below(26)) if rng.pct() < 40 else na()
    suffix = rng.pick(SUFFIXES) if rng.pct() < 5 else na()
    return first, middle, last, suffix, na()


def generate(seed, rows):
    """Return (csv bytes, stats) for `rows` rows. Stats hold the
    account-multiplicity histogram and the number of `nameless` rows
    (no owner name part and no legal entity: no owner to load).
    """
    rng = SplitMix64(seed)
    out = io.StringIO()
    w = csv.writer(out, lineterminator="\n")
    w.writerow(HEADER)
    hist = Counter()
    nameless = 0
    account = 10000 + rng.below(90000)
    written = 0
    while written < rows:
        account += 1 + rng.below(40)
        m = min(_weighted(rng, MULTIPLICITY), rows - written)
        hist[m] += 1
        legal = _legal_name(rng, account) if rng.pct() >= 2 else rng.pick(NA_SENTINELS)
        used = set()
        for _ in range(m):
            first, middle, last, suffix, entity = _owner(rng, used)
            if all(v.strip() in NA_SENTINELS for v in (first, middle, last, suffix, entity)):
                nameless += 1
            title = rng.pick(TITLES)
            w.writerow([account] +
                       [_messy(rng, v) if v.strip() not in NA_SENTINELS else v
                        for v in (legal, first, middle, last, suffix, entity)] +
                       [_messy(rng, title)])
        written += m
    return out.getvalue().encode("utf-8"), {"histogram": dict(hist), "nameless": nameless}


def histogram_of(data):
    """Account-multiplicity histogram of a written file."""
    per_account = Counter(r[0] for r in csv.reader(io.StringIO(data.decode("utf-8")))
                          if r and r[0] != HEADER[0])
    return dict(Counter(per_account.values()))


def write(seed, rows, path):
    """Write the file and self-check it; returns (sha256, stats).

    The self-check regenerates from the seed and requires a
    byte-identical file with exactly `rows` data rows whose
    account-multiplicity histogram is the one the generator drew.
    """
    data, stats = generate(seed, rows)
    again, _ = generate(seed, rows)
    if again != data:
        raise RuntimeError("generator is not deterministic for seed %d" % seed)
    n = data.count(b"\n") - 1
    if n != rows:
        raise RuntimeError(f"wrote {n} rows, expected {rows}")
    if histogram_of(data) != stats["histogram"]:
        raise RuntimeError("account-multiplicity histogram does not match the draw")
    with open(path, "wb") as f:
        f.write(data)
    return hashlib.sha256(data).hexdigest(), stats


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    sha, stats = write(a.seed, a.rows, a.out)
    print(f"{a.out}: {a.rows} rows, sha256 {sha}, "
          f"multiplicity {sorted(stats['histogram'].items())}, nameless {stats['nameless']}")


if __name__ == "__main__":
    main(sys.argv[1:])
