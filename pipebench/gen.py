"""Seeded input generators for the benchmark workloads.

Every input the benchmark feeds the program is made here from the seed
alone; nothing is read from outside the output directory. The same seed
gives byte-identical files, and `digest` hashes them so a run records
exactly which inputs it measured.

    votes_pipeline  a crawl landing zone (day pages, roll pages, member
                    lists, bio pages), an edits YAML and the ground-truth
                    model the pages were rendered from
    index_ingest    a standing corpus, delta micro-batches of documents
                    and vectors, delete requests and probe queries
"""

import datetime
import hashlib
import json
import math
import os
import random

# ---------------------------------------------------------------- common


def digest(root):
    """sha256 over every file under `root` (relative path + bytes), in
    sorted path order."""
    h = hashlib.sha256()
    paths = []
    for d, _, files in os.walk(root):
        for f in files:
            paths.append(os.path.join(d, f))
    for p in sorted(paths):
        h.update(os.path.relpath(p, root).encode())
        h.update(b"\0")
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="") as fh:
        fh.write(text)


def _jsonl(path, rows):
    _write(path, "".join(json.dumps(r, sort_keys=True) + "\n" for r in rows))


# ------------------------------------------------------------- documents

# the 30-word vocabulary of the synthetic `documents` table, plus articles
VOCAB = ("small join filter order key stream line query value big window "
         "table spark data customer scan vector slow fast group column row "
         "hash merge sort batch agg part the a").split()

# quality-gate thresholds; passed to TextStats.qualityGate by the harness
GATE = dict(min_words=20, max_words=5000, min_ttr=0.3, max_dup2=0.1)


def gate_keep(text):
    """TextStats.qualityGate's keep flag, computed the same way (space
    split, type-token ratio, repeated-bigram share)."""
    ws = text.split(" ")
    nw = len(ws)
    ttr = len(set(ws)) / float(nw)
    if nw < 3:
        dup2 = 0.0
    else:
        g2 = [ws[i] + " " + ws[i + 1] for i in range(nw - 1)]
        dup2 = 1.0 - len(set(g2)) / float(len(g2))
    return (nw >= GATE["min_words"] and nw <= GATE["max_words"]
            and ttr >= GATE["min_ttr"] and dup2 <= GATE["max_dup2"])


def shingles(text, n=3):
    ws = text.split(" ")
    return {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / float(len(sa | sb)) if sa and sb else 0.0


def _doc(rng, lo=10, hi=100):
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(lo, hi)))


def _near(rng, text, min_j):
    """A one-word edit of `text` (replace, insert or append) that stays a
    near-duplicate at `min_j` and still passes the quality gate."""
    for _ in range(200):
        ws = text.split(" ")
        op = rng.randrange(3)
        i = rng.randrange(len(ws))
        w = rng.choice(VOCAB)
        if op == 0:
            if ws[i] == w:
                continue
            ws[i] = w
        elif op == 1:
            ws.insert(i, w)
        else:
            ws.append(w)
        t = " ".join(ws)
        if t != text and gate_keep(t) and jaccard(t, text) >= min_j:
            return t
    raise RuntimeError("no near-duplicate edit found")


def _unique_docs(rng, n, taken, lo=10, hi=100):
    out = []
    while len(out) < n:
        t = _doc(rng, lo, hi)
        if t in taken:
            continue
        taken.add(t)
        out.append(t)
    return out


# ----------------------------------------------------------- index ingest


def gen_ingest(out, seed, n_base=3000, n_batches=1, batch_docs=300,
               near_share=0.4, short_share=0.1, echo_share=0.05, n_vec=2000,
               dim=64, vec_batches=1, vec_batch=150, n_delete=40, n_query=50,
               threshold=0.7):
    """Planted: deltas that are one-word edits of base documents (the
    pairs the ingest must publish), deltas that are one-word edits of an
    earlier delta (the pairs within the arrival), short deltas the
    quality gate drops, and one repeated delete request."""
    rng = random.Random(seed * 1000003 + 2)
    taken = set()
    base = [(i, t) for i, t in enumerate(
        _unique_docs(rng, n_base, taken, 20, 90))]
    deltas = []
    nid = 1000000
    for b in range(n_batches):
        for _ in range(batch_docs):
            u = rng.random()
            t = None
            if u < near_share:
                src = base[rng.randrange(n_base)][1]
                if gate_keep(src):
                    t = _near(rng, src, threshold + 0.1)
            elif u < near_share + short_share:
                t = _unique_docs(rng, 1, taken, 5, 15)[0]
            elif u < near_share + short_share + echo_share and deltas:
                src = deltas[rng.randrange(len(deltas))]["text"]
                if gate_keep(src):
                    t = _near(rng, src, threshold + 0.1)
            if t is None or (t in taken and not near_share <= u < near_share + short_share):
                t = _unique_docs(rng, 1, taken, 20, 90)[0]
            taken.add(t)
            deltas.append({"doc_id": nid, "text": t, "batch": b})
            nid += 1
    _jsonl(os.path.join(out, "base.jsonl"),
           [{"doc_id": i, "text": t} for i, t in base])
    _jsonl(os.path.join(out, "delta.jsonl"), deltas)

    def vec():
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v))
        return [round(x / n, 6) for x in v]

    _jsonl(os.path.join(out, "vectors.jsonl"),
           [{"vec_id": i, "embedding": vec()} for i in range(n_vec)])
    vid = 100000
    for b in range(vec_batches):
        rows = []
        for _ in range(vec_batch):
            rows.append({"vec_id": vid, "embedding": vec()})
            vid += 1
        _jsonl(os.path.join(out, "vdelta", "v%d.jsonl" % b), rows)
    doomed = rng.sample(range(n_vec), n_delete)
    # one repeated request: the tombstone log collapses it by value
    requests = doomed + doomed[:1]
    _jsonl(os.path.join(out, "deletes.jsonl"),
           [{"vec_id": i} for i in requests])
    queries = rng.sample([i for i in range(n_vec) if i not in set(doomed)],
                         n_query)
    truth = {"threshold": threshold, "gate": GATE, "n_base": n_base,
             "n_delta": len(deltas), "n_batches": n_batches,
             "kept_delta": [r["doc_id"] for r in deltas if gate_keep(r["text"])],
             "vec_batches": vec_batches, "n_tombstones": len(set(doomed)),
             "doomed": sorted(doomed), "queries": sorted(queries)}
    _write(os.path.join(out, "truth.json"), json.dumps(truth, sort_keys=True))
    return truth


# ------------------------------------------------------------- legislature

HOUSE, SENATE = 1, 2
TITLE = {HOUSE: "House", SENATE: "Senate"}
LETTER = {HOUSE: "H", SENATE: "S"}
SEATS = {HOUSE: 206, SENATE: 53}
# session days of a quarter of the year: BASELINE density (about 1,450
# roll calls and 229k vote cells a year) over a quarter year
DAYS = {HOUSE: 24, SENATE: 12}
ROLLS_PER_DAY = 10

# first names: canonical forms with a nickname (for nickname variants),
# then names the nickname table does not know
NICK = {"Robert": "Bob", "William": "Bill", "James": "Jim", "Richard": "Rick",
        "Thomas": "Tom", "Michael": "Mike", "Daniel": "Dan", "David": "Dave",
        "Edward": "Ted", "Joseph": "Joe", "Kenneth": "Ken", "Ronald": "Ron",
        "Donald": "Don", "Gregory": "Greg", "Jeffrey": "Jeff",
        "Lawrence": "Larry", "Margaret": "Peggy", "Elizabeth": "Beth",
        "Deborah": "Debbie", "Susan": "Sue", "Patricia": "Patty",
        "Kimberly": "Kim", "Judith": "Judy", "Cynthia": "Cindy"}
FIRSTS = sorted(NICK) + ("Brian Kevin Scott Mark Paul Gary Karen Mary Laura "
                         "Dana Carl Eric Glenn Helen Keith Linda Nora Owen "
                         "Rosa Todd Wade Yvonne").split()
# no first name starts with I or V: an initial "V." reads as a suffix
ROOTS = ("Har Kel Bran Mor Dun Ash Col Fen Gar Hol Lam Mar Nor Pen Ral Sel "
         "Tam Wal Bel Cor Dal Eld Fair Gil Hart Kend Lind Mill Oak Quin Rad "
         "Stan Thorn Wil Yor Brad Cal Dray Elm Ford").split()
ENDS = ("wood man ley ton son ford well by ridge stead more dale wick "
        "field croft").split()
SURNAMES = sorted({r + e for r in ROOTS for e in ENDS})
HYPHEN_TAILS = ("Vance Ortiz Nakamura Quigley Zeller Ubrich Yost Ibarra "
                "Jaffe Kowal").split()
# roman-numeral suffixes are left out: the name parser title-cases a
# capitalised run ("III" -> "Iii") the way the reference's crawl does
SUFFIXES = ["Jr.", "Sr."]
PARTIES = [("D", "Democrat"), ("R", "Republican")]


class Person:
    """One legislator: the canonical name the truth carries, plus how the
    crawled pages misprint it."""

    def __init__(self, first, middle, last, suffix, dob, party):
        self.first, self.middle, self.last = first, middle, last
        self.suffix, self.dob, self.party = suffix, dob, party
        self.records = {}          # chamber -> member record id
        self.shout = False         # member list prints the name in capitals
        self.typo = None           # member list misspells the first name
        self.vote_typo = None      # roll pages misspell the voter name
        self.ranged_typo = None    # ... but only inside a stamp window
        self.hyphen_tail = None    # roll pages print only this part
        self.variant = None        # House->Senate mover: 0 nick, 1 middle, 2 suffix

    def display(self, chamber):
        """The name as this chamber's member list prints it. A mover's
        House record and Senate record differ by one variant; the pages
        never show the merged form for both."""
        first, middle, suffix = self.typo or self.first, self.middle, self.suffix
        if self.variant == 0 and chamber == HOUSE:
            first = NICK[self.first]
        elif self.variant == 1 and chamber == SENATE:
            middle = ""
        elif self.variant == 2 and chamber == SENATE:
            suffix = ""
        s = " ".join(p for p in (first, middle, self.last, suffix) if p)
        return s.upper() if self.shout else s


def _date(y, m, d):
    return datetime.date(y, m, d)


def _us(d):
    return "%02d/%02d/%04d" % (d.month, d.day, d.year)


def _clock(minutes):
    h, m = divmod(minutes, 60)
    return "%02d:%02d %s" % (h % 12 or 12, m, "AM" if h < 12 else "PM")


def gen_votes(out, seed, years=1, start_year=2001):
    """Render a seeded legislature as crawl pages plus its ground truth.

    Planted cases, each resolved by one layer of the pipeline:
      - House->Senate moves in mid-year: one person, two member records
        (nickname, middle-initial or suffix variant) with one dob, merged
        by FindDuplicates; the truth carries the merged name under the
        smaller id;
      - shared last names in a chamber: voter names carry an initial or a
        nickname ("KELLWOOD, B.", "KELLWOOD, BOB");
      - hyphenated last names voted under their second part (MatchNames
        pass 2);
      - names printed in capitals on the member list;
      - roll pages without a time stamp, and members who did not vote
        (blank cells);
      - edits.yaml: a member-list typo fixed by a Rename, a misspelled
        voter name (simple rename), a voter name misspelled only inside a
        stamp window given as bare dates (ranged rename), a member listed
        for a year without serving (null removal) and, over two or more
        years, a member the last year's list omits (added from the
        neighbour year).
    """
    rng = random.Random(seed * 1000003 + 3)
    ys = list(range(start_year, start_year + years))
    used_last, used_dob = set(), set()

    def new_last():
        while True:
            s = rng.choice(SURNAMES)
            if s not in used_last:
                used_last.add(s)
                return s

    def new_dob():
        while True:
            d = _date(1940, 1, 1) + datetime.timedelta(days=rng.randrange(365 * 40))
            if d not in used_dob:
                used_dob.add(d)
                return d

    def new_person(last=None, avoid_initial=None):
        first = rng.choice([f for f in FIRSTS if f[0] != avoid_initial])
        middle = rng.choice("ABCDEFGHJKLMNPRSTW") + "." if rng.random() < 0.3 else ""
        suffix = rng.choice(SUFFIXES) if rng.random() < 0.04 else ""
        p = Person(first, middle, last or new_last(), suffix, new_dob(),
                   rng.choice(PARTIES))
        p.shout = suffix == "" and rng.random() < 0.05
        return p

    seats = {c: [new_person() for _ in range(SEATS[c])] for c in (HOUSE, SENATE)}

    def shares_last(p, c):
        return any(q is not p and q.last == p.last for q in seats[c])

    for c in (HOUSE, SENATE):
        for _ in range(6 if c == HOUSE else 2):
            a, b = rng.sample(range(SEATS[c]), 2)
            if shares_last(seats[c][a], c) or shares_last(seats[c][b], c):
                continue
            seats[c][b] = new_person(last=seats[c][a].last,
                                     avoid_initial=seats[c][a].first[0])
        for tail in rng.sample(HYPHEN_TAILS, 2):
            p = seats[c][rng.randrange(SEATS[c])]
            if not shares_last(p, c) and not p.hyphen_tail:
                p.last = p.last + "-" + tail
                p.hyphen_tail = tail.upper()

    # holders[(chamber, year)]: (person, first day, end day, district),
    # days indexing that chamber's session days of the year
    holders = {}
    days = {(c, y): sorted(_date(y, 1, 5) + datetime.timedelta(days=k)
                           for k in rng.sample(range(175), DAYS[c]))
            for c in (HOUSE, SENATE) for y in ys}
    for yi, y in enumerate(ys):
        if yi > 0:
            for c in (HOUSE, SENATE):
                for s, p in enumerate(seats[c]):
                    if (rng.random() < 0.06 and not p.hyphen_tail
                            and not shares_last(p, c)):
                        seats[c][s] = new_person()
        moves = []
        while len(moves) < 2:
            hs, ss = rng.randrange(SEATS[HOUSE]), rng.randrange(SEATS[SENATE])
            hp = seats[HOUSE][hs]
            if (hs in [m[0] for m in moves] or ss in [m[1] for m in moves]
                    or hp.hyphen_tail or hp.middle or hp.suffix or hp.shout
                    or shares_last(hp, HOUSE) or shares_last(seats[SENATE][ss], SENATE)
                    or any(q.last == hp.last for q in seats[SENATE])):
                continue
            moves.append((hs, ss))
        day_h, day_s = DAYS[HOUSE] // 2, DAYS[SENATE] // 2
        for c in (HOUSE, SENATE):
            holders[(c, y)] = [(p, 0, DAYS[c], s + 1) for s, p in enumerate(seats[c])
                               if s not in [m[c - 1] for m in moves]]
        for hs, ss in moves:
            mover = seats[HOUSE][hs]
            mover.variant = rng.choice([0, 1, 2] if mover.first in NICK else [1, 2])
            if mover.variant == 1:
                mover.middle = rng.choice("ABCDEFGHJKLMNPRSTW") + "."
            elif mover.variant == 2:
                mover.suffix = "Jr."
            repl = new_person()
            holders[(HOUSE, y)] += [(mover, 0, day_h, hs + 1), (repl, day_h, DAYS[HOUSE], hs + 1)]
            holders[(SENATE, y)] += [(seats[SENATE][ss], 0, day_s, ss + 1),
                                     (mover, day_s, DAYS[SENATE], ss + 1)]
            seats[HOUSE][hs], seats[SENATE][ss] = repl, mover

    persons, seen = [], set()
    for key in sorted(holders):
        for p, _, _, _ in holders[key]:
            if id(p) not in seen:
                seen.add(id(p))
                persons.append(p)
    # record ids: one per (person, chamber); House ids sort below Senate
    # ids, so a merged mover keeps his House id
    next_id = {HOUSE: 100000, SENATE: 200000}
    for p in persons:
        for c in (HOUSE, SENATE):
            if any(h[0] is p for y in ys for h in holders[(c, y)]):
                p.records[c] = next_id[c]
                next_id[c] += rng.randint(1, 3)

    def lone(p):
        return sum(1 for q in persons if q.last == p.last) == 1

    plain = [p for p in persons if lone(p) and not p.hyphen_tail
             and p.variant is None and not p.shout]
    typo_p, vtypo_p, rtypo_p = rng.sample(plain, 3)
    f = typo_p.first
    typo_p.typo = f[0] + f[2] + f[1] + f[3:] if f[1] != f[2] else f + "e"
    lu = vtypo_p.last.upper()
    vtypo_p.vote_typo = lu[:-2] + lu[-1] + lu[-2] if lu[-1] != lu[-2] else lu + "S"
    rtypo_p.ranged_typo = rtypo_p.last.upper() + "E"

    ghost = new_person()
    ghost.shout = False
    ghost.records[HOUSE] = next_id[HOUSE]
    ghost_year, ghost_district = ys[-1], rng.randint(1, SEATS[HOUSE])
    omit_p = None
    if len(ys) >= 2:
        full_year = lambda p, y: any(h[0] is p and h[1] == 0 and h[2] == DAYS[HOUSE]
                                     for h in holders[(HOUSE, y)])
        cand = [p for p in plain if full_year(p, ys[-1]) and full_year(p, ys[-2])
                and p not in (typo_p, vtypo_p, rtypo_p)]
        omit_p = rng.choice(cand)

    def member_id(p):
        return min(p.records.values())

    win_start, win_stop = _date(ys[0], 5, 1), _date(ys[0], 8, 1)
    land, truth_dir = os.path.join(out, "landing"), os.path.join(out, "truth")
    crawl = "2024-01-15 00:00:00"
    sessions, session_days, roll_calls, service = [], [], [], []
    service_seen = set()
    votes_csv = ["roll_id,member_id,vote"]
    for y in ys:
        for c in (HOUSE, SENATE):
            sid = y * 10 + c
            sessions.append({"id": sid, "chamber": c, "year": y, "session_index": 0,
                             "name": "%d %s" % (y, TITLE[c]), "last_crawl": crawl})
            hs = holders[(c, y)]
            n_last = {}
            for p, _, _, _ in hs:
                n_last[p.last.lower()] = n_last.get(p.last.lower(), 0) + 1

            def voter_name(p, d, stamped):
                if p.hyphen_tail:
                    return p.hyphen_tail
                if n_last[p.last.lower()] > 1:
                    if p.first in NICK and p.records[c] % 2 == 0:
                        return "%s, %s" % (p.last.upper(), NICK[p.first].upper())
                    return "%s, %s." % (p.last.upper(), p.first[0])
                if p is vtypo_p and d.day % 3 == 0:
                    return p.vote_typo
                if p is rtypo_p and stamped and win_start < d < win_stop:
                    return p.ranged_typo
                return p.last.upper()

            number = 0
            for di, d in enumerate(days[(c, y)]):
                day_id = y * 10000 + c * 1000 + di
                session_days.append({"id": day_id, "session_id": sid,
                                     "date": d.isoformat(), "last_crawl": crawl})
                links = []
                minute = 9 * 60 + rng.randrange(60)
                for k in range(ROLLS_PER_DAY):
                    number += 1
                    rid = y * 100000 + c * 10000 + number
                    bill = "%sB %d" % (LETTER[c], rng.randint(1, 2500))
                    if rng.random() < 0.1:
                        rname = "%s, AMENDMENT A%05d" % (bill, rng.randint(1, 99999))
                    else:
                        rname = "%s %s" % (bill, rng.choice(
                            ["FINAL PASSAGE", "CONCURRENCE", "MOTION", "THIRD CONSIDERATION"]))
                    minute += rng.randint(2, 25)
                    stamped = rng.random() >= 0.03
                    roll_calls.append({
                        "id": rid, "day_id": day_id, "session_year": y,
                        "session_index": 0, "chamber": c, "number": number,
                        "name": rname,
                        "stamp": "%s %02d:%02d:00" % (d.isoformat(), minute // 60, minute % 60)
                        if stamped else None})
                    links.append(
                        '<tr><td><a id="RCLink%d" href="rc_view?sess_yr=%d&sess_ind=0'
                        '&rc_body=%s&rc_nbr=%d">%s</a></td><td>%s</td></tr>'
                        % (number, y, LETTER[c], number, rname, _us(d)))
                    divs = []
                    for p, d0, d1, _ in hs:
                        if not d0 <= di < d1:
                            continue
                        # everyone votes on the first roll of his stint
                        if not (di == d0 and k == 0) and rng.random() < 0.03:
                            continue
                        letter = rng.choices("YNXE", weights=[60, 30, 6, 4])[0]
                        divs.append('<div class="RollCalls-Vote"><input type="h"/>'
                                    '<span>%s</span> %s</div>'
                                    % (letter, voter_name(p, d, stamped)))
                        votes_csv.append("%d,%d,%d" % (rid, member_id(p), "YNXE".index(letter) + 1))
                    info = ("<div>%s</div><div>%s</div><div>PASSAGE</div>" % (_us(d), _clock(minute))
                            if stamped else "<div>no</div><div>stamp</div>")
                    _write(os.path.join(land, "rolls", "%d.html" % rid),
                           '<html><body><div class="RollCalls-ListContainer">\n'
                           '<div class="Column-OneFourth-List">%s</div>\n</div>\n'
                           '<div class="Column-OneFourth">\n<div class="Header">%s</div>\n'
                           '<div class="Info">%s</div>\n</div></body></html>'
                           % ("\n".join(divs), rname, info))
                _write(os.path.join(land, "days", "%d.html" % day_id),
                       '<html><body><table class="DataTable"><thead><tr><th>Roll</th>'
                       '<th>Date</th></tr></thead><tbody>\n%s\n</tbody></table></body></html>'
                       % "\n".join(links))
            listed = [(p, dist) for p, _, _, dist in hs
                      if not (p is omit_p and y == ys[-1])]
            if c == HOUSE and y == ghost_year:
                listed.append((ghost, ghost_district))
            seen_rec, wrappers = set(), []
            for p, dist in sorted(listed, key=lambda t: (t[1], t[0].records[c])):
                if p.records[c] in seen_rec:
                    continue
                seen_rec.add(p.records[c])
                wrappers.append(
                    '<div class="MemberInfoList-MemberWrapper">\n'
                    '  <div class="MemberInfoList-MemberBio">\n'
                    '    <a href="mbrBio.cfm?id=%d&body=%s">%s</a>\n'
                    '    (%s)\n    <br/>\n    District %d\n  </div>\n</div>'
                    % (p.records[c], LETTER[c], p.display(c), p.party[0], dist))
            _write(os.path.join(land, "members", "%s_%d.html" % (TITLE[c].lower(), y)),
                   '<html><body><select id="SessYear"><option value="%d" selected>%d'
                   '</option></select>\n%s\n</body></html>' % (y, y, "\n".join(wrappers)))
            for p, _, _, dist in hs:
                row = (member_id(p), y, c, dist, p.party[1])
                if row not in service_seen:
                    service_seen.add(row)
                    service.append(dict(zip(
                        ("member_id", "year", "chamber", "district", "party"), row)))

    # bio pages, one per member record: House pages keep the service table
    # under .bio-table and the life range in <h4>, Senate pages use
    # DataTable-Grid and <h3>
    served = {(id(ghost), HOUSE): {(ghost_year, ghost_district)}}
    for (c, y), hs in holders.items():
        for p, _, _, dist in hs:
            served.setdefault((id(p), c), set()).add((y, dist))
    head = ("<tr><th>Sessions</th><th>Office</th><th>Position</th>"
            "<th>District</th><th>Party</th></tr>")
    for p in persons + [ghost]:
        for c, rec in sorted(p.records.items()):
            rows = "".join("<tr><td>%d</td><td>%s</td><td></td><td>%d</td><td>%s</td></tr>"
                           % (yy, "Representative" if c == HOUSE else "", dd, p.party[1])
                           for yy, dd in sorted(served[(id(p), c)]))
            life = "%s -" % _us(p.dob)
            body = ('<h1>%s</h1><h4>%s</h4><div class="bio-table"><table>%s%s</table></div>'
                    if c == HOUSE else
                    '<h1>%s</h1><h3>%s</h3><table class="DataTable-Grid">%s%s</table>'
                    ) % (p.display(c), life, head, rows)
            _write(os.path.join(land, "bios", "%s_%d.html" % (TITLE[c].lower(), rec)),
                   "<html><body>%s</body></html>" % body)

    # ghost and omitted member both sit in the last year's House list
    yaml = ["%d:" % ys[-1], "  H:", "    %s %s: null" % (ghost.first, ghost.last)]
    if omit_p is not None:
        yaml.append("    %s: true" % omit_p.last)
    yaml += ["Votes:",
             "  %s: %s" % (vtypo_p.vote_typo, vtypo_p.last.upper()),
             "  %s:" % rtypo_p.ranged_typo,
             "    name: %s" % rtypo_p.last.upper(),
             "    start: %s" % win_start.isoformat(),
             "    stop: %s" % win_stop.isoformat(),
             "Rename:",
             "  - from:",
             "      first: %s" % typo_p.typo,
             "      last: %s" % typo_p.last,
             "    to:",
             "      first: %s" % typo_p.first]
    _write(os.path.join(land, "edits.yaml"), "\n".join(yaml) + "\n")
    # the session calendar: the model takes sessions and session days
    # from here, as the reference takes them from its calendar crawl
    _jsonl(os.path.join(land, "sessions.jsonl"), sessions)
    _jsonl(os.path.join(land, "session_days.jsonl"), session_days)

    members = [{"id": member_id(p), "first": p.first, "middle": p.middle or None,
                "last": p.last, "suffix": p.suffix or None} for p in persons]
    _jsonl(os.path.join(truth_dir, "sessions.jsonl"), sessions)
    _jsonl(os.path.join(truth_dir, "session_days.jsonl"), session_days)
    _jsonl(os.path.join(truth_dir, "roll_calls.jsonl"), roll_calls)
    _jsonl(os.path.join(truth_dir, "members.jsonl"), members)
    _jsonl(os.path.join(truth_dir, "service.jsonl"), service)
    _write(os.path.join(truth_dir, "votes.csv"), "\n".join(votes_csv) + "\n")
    info = {"years": ys, "n_rolls": len(roll_calls), "n_votes": len(votes_csv) - 1,
            "n_members": len(members),
            "n_moves": sum(1 for p in persons if p.variant is not None)}
    _write(os.path.join(out, "info.json"), json.dumps(info, sort_keys=True))
    return info


WORKLOADS = {"votes_pipeline": gen_votes, "index_ingest": gen_ingest}


def generate(workload, out, seed):
    """Write `workload`'s inputs for `seed` under `out`; returns the
    generator's summary and the input digest."""
    info = WORKLOADS[workload](out, seed)
    return info, digest(out)
