#!/usr/bin/env python3
"""Write the wide vote-matrix test fixtures under
src/test/resources/vote_fixtures/<year>/<House|Senate>.csv.

The bytes come from Python's stdlib csv.writer (excel dialect:
QUOTE_MINIMAL, CRLF line ends), the writer the reference's dump.py uses,
so the engine's reader and writer are checked against an independent
implementation of the published format. Rosters, rolls and vote letters
are fixed below (letters from a seeded PRNG), so a re-run rewrites the
committed files byte for byte. Each file follows the published layout
(FIXTURES.md section 2): roster ordered by district with NULL first, days
ordered by date, a fully stamped day ordered by stamp, a day with any
date-only roll ordered by roll id.

Usage: python3 scripts/make_vote_fixtures.py   (from the repo root)
"""
import csv
import os
import random

ROOT = os.path.join("src", "test", "resources", "vote_fixtures")

FIRSTS = ["Alan", "Beth", "Carl", "Dana", "Earl", "Faye", "Glen", "Hope",
          "Ivan", "June", "Kurt", "Lena", "Milo", "Nora", "Otto", "Pia",
          "Reid", "Sara", "Troy", "Una", "Vern", "Wade", "Xena", "Yale",
          "Zoe"]
LASTS = ["Abbott", "Barlow", "Conway", "Dunmore", "Ellery", "Fenwick",
         "Garber", "Hollis", "Ingram", "Jessup", "Kessler", "Lowrey",
         "Mercer", "Nolan", "Osgood", "Prentice", "Quigley", "Rowan",
         "Sutter", "Thorne", "Upshaw", "Vickery", "Whitlock", "Yancey",
         "Zeller"]


def letters(rng, n, blank=0.03):
    """n vote letters: mostly Y, some N, a few E (leave) and X (no vote),
    and blanks (no record)."""
    out = []
    for _ in range(n):
        u = rng.random()
        out.append("" if u < blank else "Y" if u < 0.75 else "N" if u < 0.92
                   else "E" if u < 0.97 else "X")
    return out


def write(year, chamber, roster, rolls, cells, district_row, party_row):
    """roster: [(display name, district or '', party or '')] in column
    order; rolls: [(name, number, stamp)] in row order; cells: one letter
    list per roll."""
    path = os.path.join(ROOT, str(year), chamber + ".csv")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh)
        w.writerow(["Name", "Number", "Date"] + [m[0] for m in roster])
        if district_row:
            w.writerow(["District", "", ""] + [m[1] for m in roster])
        if party_row:
            w.writerow(["Party", "", ""] + [m[2] for m in roster])
        for (name, number, stamp), row in zip(rolls, cells):
            w.writerow([name, number, stamp] + row)


def senate_1995():
    """Senate-sized (51 columns): 50 districts plus a mid-year
    replacement sharing district 21, District and Party rows, an
    Independent, fully stamped days, one mixed day, one date-only day,
    blank cells and roll names that need quoting."""
    rng = random.Random(1995)
    roster = []
    for d in range(1, 51):
        first, last = FIRSTS[d % 25], LASTS[(d * 7) % 25]
        name = "%s %s" % (first, last) if d <= 25 else \
            "%s %s. %s" % (first, "ABCDEFGHJKLMNPRSTVW"[d % 19], last)
        if d == 30:
            name += " Jr."
        party = "Independent" if d == 44 else "Democrat" if d % 3 else "Republican"
        roster.append((name, str(d), party))
        if d == 21:  # seated after the original member left on 1995-03-14
            roster.append(("Quinn Ashby", "21", "Democrat"))
    rolls = [
        ("ELECTION OF PRESIDENT PRO TEMPORE", 1, "1995-01-03 12:15:00"),
        ("SR 1 ADOPTION", 2, "1995-01-03 12:40:30"),
        ("SB 14 FINAL PASSAGE", 3, "1995-01-04 10:02:00"),
        ("SB 22 FINAL PASSAGE", 4, "1995-01-04 10:09:45"),
        ("HB 301 CONCURRENCE", 5, "1995-01-04 16:30:00"),
        # mixed day: one date-only roll, so the day orders by roll id
        ("HB 212 FINAL PASSAGE", 6, "1995-03-14 15:20:00"),
        ("AMENDMENT A0417 TO SB 88, AS AMENDED", 7, "1995-03-14 11:05:00"),
        ('MOTION TO "REVERT" SB 88 TO PRIOR PRINTER\'S NUMBER', 8, "1995-03-14"),
        ("SB 88 FINAL PASSAGE", 9, "1995-03-14 16:45:10"),
        ("SB 120 FINAL PASSAGE", 10, "1995-06-20 09:30:00"),
        ("HB 77, CONCUR IN SENATE AMENDMENTS", 11, "1995-06-20 14:00:00"),
        ("SB 131 FINAL PASSAGE", 12, "1995-06-20 14:00:05"),
        ("BUDGET BILL HB 1700 FINAL PASSAGE", 13, "1995-06-21"),
        ("MOTION TO ADJOURN SINE DIE", 14, "1995-06-21"),
    ]
    leaving = [i for i, m in enumerate(roster) if m[1] == "21"]
    cells = []
    for _, _, stamp in rolls:
        row = letters(rng, len(roster))
        seated = leaving[0] if stamp[:10] <= "1995-03-14" else leaving[1]
        for i in leaving:
            if i != seated:
                row[i] = ""
        cells.append(row)
    write(1995, "Senate", roster, rolls, cells, True, True)


def house_1995():
    """Small House: District row but no Party row, two columns sharing
    district 7, and a mixed day whose stamped rolls are out of stamp
    order."""
    rng = random.Random(19951)
    roster = [("Alan Abbott", "1", ""), ("Beth Barlow", "2", ""),
              ("Carl Conway", "3", ""), ("Dana Dunmore", "5", ""),
              ("Earl Ellery", "7", ""), ("Faye Fenwick", "7", ""),
              ("Glen Garber", "9", ""), ("Hope Hollis", "12", ""),
              ("Ivan R. Ingram", "15", ""), ("June Jessup", "18", "")]
    rolls = [
        ("HR 1 ADOPTION", 1, "1995-01-03 13:00:00"),
        ("HR 2 ADOPTION", 2, "1995-01-03 13:20:00"),
        ("HB 40 FINAL PASSAGE", 3, "1995-02-07 14:10:00"),
        ("AMENDMENT A0090 TO HB 41", 4, "1995-02-07 09:45:00"),
        ("HB 41 FINAL PASSAGE", 5, "1995-02-07"),
        ("HB 42 FINAL PASSAGE", 6, "1995-02-07 11:00:00"),
        ("SB 5, CONCUR IN HOUSE AMENDMENTS", 7, "1995-02-08 10:00:00"),
        ("HB 50 FINAL PASSAGE", 8, "1995-02-08 10:30:00"),
    ]
    cells = []
    for _, _, stamp in rolls:
        row = letters(rng, len(roster), blank=0.08)
        row[4 if stamp[:10] > "1995-02-07" else 5] = ""  # district 7 hand-over
        cells.append(row)
    write(1995, "House", roster, rolls, cells, True, False)


def house_1997():
    """Neither District nor Party row (roster in member order), date-only
    days ordered by roll id, a roll with no recorded votes, middle
    initials and a suffix."""
    rng = random.Random(1997)
    roster = [("Kurt Kessler", "", ""), ("Lena M. Lowrey", "", ""),
              ("Milo Mercer III", "", ""), ("Nora Nolan", "", ""),
              ("Otto P. Osgood Jr.", "", ""), ("Pia Prentice", "", "")]
    rolls = [
        ("HB 9 FINAL PASSAGE", 1, "1997-01-07"),
        ("HB 3 FINAL PASSAGE", 2, "1997-01-07"),
        ("MOTION TO RECESS", 3, "1997-01-08"),
        ("HB 12 FINAL PASSAGE", 4, "1997-01-08"),
    ]
    cells = [letters(rng, len(roster), blank=0.1) for _ in rolls]
    cells[2] = [""] * len(roster)
    write(1997, "House", roster, rolls, cells, False, False)


def senate_1997():
    """District row with one blank district (NULL orders first), Party row
    with a blank party, fully stamped days."""
    rng = random.Random(19971)
    roster = [("Reid Rowan", "", "Republican"), ("Sara Sutter", "4", "Democrat"),
              ("Troy Thorne", "11", ""), ("Una Upshaw", "26", "Independent"),
              ("Vern Vickery", "40", "Republican")]
    rolls = [
        ("SB 1 FINAL PASSAGE", 1, "1997-01-07 11:00:00"),
        ("SB 2 FINAL PASSAGE", 2, "1997-01-07 11:15:00"),
        ('NOMINATION OF "JOHN DOE", SECRETARY', 3, "1997-02-11 15:42:09"),
    ]
    cells = [letters(rng, len(roster)) for _ in rolls]
    write(1997, "Senate", roster, rolls, cells, True, True)


if __name__ == "__main__":
    senate_1995()
    house_1995()
    house_1997()
    senate_1997()
