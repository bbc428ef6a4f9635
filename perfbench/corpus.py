"""Seeded bronze corpus for the `pipeline` workload.

Writes news articles the way the crawler lands them, one JSON object per
file under `vnexpress/{topic}/{yyyy}/{MM}/{dd}/{yyyyMMddTHHmmss}_{uuid}.json`,
matching the engine's bronze schema. The corpus has two parts:

- `initial/`: the full load, `articles` articles over `days` publication days;
- `day-<k>/` for k = 1..`increments`: one daily increment each, made of a
  new day's articles plus a re-crawl of the previous day's articles (same
  URLs, updated comment counts), as a two-day crawl window produces.

Every `publish_date` variant and edge row of the fixture notes appears:
ISO with and without offset, `Z`, the Vietnamese display form, epoch
seconds and millis, unpadded `d/M/yyyy H:mm`; blank author/topic/sub_topic,
a URL duplicated across two files, a keyword repeated within an article,
`top_comments` empty and null, and `interaction_details` empty, invalid
and numeric-string. A seeded share of rows has a blank URL or an
unparseable date and must be rejected.

`manifest.json` records what the engine must produce: distinct valid URLs,
rejected rows and bronze bytes per part.

Usage: python3 perfbench/corpus.py <outDir> <seed> <articles> <days> <increments>
"""
import datetime as dt
import json
import os
import random
import sys
import uuid

TOPICS = ["thoi-su", "the-gioi", "kinh-doanh", "khoa-hoc", "giai-tri",
          "the-thao", "phap-luat", "giao-duc", "suc-khoe", "du-lich"]
SUBTOPICS = ["", "  ", "bong-da", "vu-tru", "chung-khoan", "dan-sinh",
             "quoc-te", "ho-so", "tu-van", "diem-den", "phim", "nhac"]
AUTHORS = ["Nguyễn Văn An", "Trần Thị Bình", "Lê Hoàng", "Phạm Minh Châu",
           "Hoàng Đức", "Vũ Thu Hà", "Đặng Quang", "Bùi Lan", "Đỗ Khánh",
           "Hồ Ngọc", " ", "", "Ngô Bảo", "Dương Tuấn", "Lý Mai", "Mai Anh"]
WORDS = ("một hai ba bốn năm sáu bảy tám chín mười tin tức thời sự kinh tế "
         "thị trường chính phủ người dân thành phố hà nội sài gòn khoa học "
         "công nghệ giáo dục sức khỏe bóng đá du lịch pháp luật").split()
WEEKDAYS = ["Thứ hai", "Thứ ba", "Thứ tư", "Thứ năm", "Thứ sáu", "Thứ bảy", "Chủ nhật"]
REACTIONS = ["like", "love", "haha", "wow", "sad", "angry"]
BASE_DAY = dt.date(2025, 9, 1)


def publish_date(rng, day, i):
    """A valid `publish_date` in one of seven formats, for `day`.

    Local hours 7..16 at +07:00 fall on the same UTC date, so the article
    lands on `day` whichever zone the parser assumes."""
    h, m = rng.randint(7, 16), rng.randint(0, 59)
    utc = dt.datetime(day.year, day.month, day.day, h - 7, m, tzinfo=dt.timezone.utc)
    v = i % 7
    if v == 0:
        return f"{day:%Y-%m-%d}T{h:02d}:{m:02d}:00+07:00"
    if v == 1:
        return f"{day:%Y-%m-%d}T{h:02d}:{m:02d}:00"
    if v == 2:
        return f"{utc:%Y-%m-%dT%H:%M:%S}Z"
    if v == 3:
        return (f"{WEEKDAYS[day.weekday()]}, {day:%d/%m/%Y}, "
                f"{h:02d}:{m:02d} (GMT+7)")
    if v == 4:
        return str(int(utc.timestamp()))
    if v == 5:
        return str(int(utc.timestamp()) * 1000)
    return f"{day.day}/{day.month}/{day.year} {h}:{m:02d}"


def comments(rng, n):
    out = []
    for c in range(n):
        kind = rng.randrange(5)
        if kind == 0:
            details = ""
        elif kind == 1:
            details = "{not json"
        elif kind == 2:
            details = json.dumps({r: str(rng.randint(1, 9)) for r in rng.sample(REACTIONS, 2)})
        else:
            details = json.dumps({r: rng.randint(0, 20) for r in rng.sample(REACTIONS, 2)})
        out.append({"commenter_name": f"user{rng.randint(1, 400)}",
                    "comment_content": " ".join(rng.choices(WORDS, k=rng.randint(2, 8))),
                    "total_likes": rng.randint(0, 50),
                    "interaction_details": details})
    return out


def article(rng, serial, day, seed, reject=None, crawl=0):
    """One article. `crawl` > 0 re-crawls it: same URL, newer comments."""
    arng = random.Random(f"{seed}:{serial}")
    topic = TOPICS[serial % len(TOPICS)]
    kws = arng.sample(range(200), arng.randint(1, 4))
    if serial % 11 == 0:
        kws.append(kws[0])  # repeated keyword within one article
    url = f"https://vnexpress.net/bai-viet-{seed}-{serial}.html"
    if serial % 17 == 0:
        url += "  "  # trailing blanks, trimmed by the ArticleID hash
    pd = publish_date(arng, day, serial)
    if reject == "url":
        url = rng.choice([None, "", "   "])
    elif reject == "date":
        pd = rng.choice(["updating...", "", "ngày mai"])
    n_comments = arng.randint(0, 3) + crawl
    body = " ".join(arng.choices(WORDS, k=arng.randint(20, 120)))
    rec = {
        "title": f"Bài {serial}: " + " ".join(arng.choices(WORDS, k=6)),
        "url": url,
        "author": AUTHORS[serial % len(AUTHORS)],
        "topic": rng.choice([topic, "", " "]),
        "sub_topic": SUBTOPICS[arng.randrange(len(SUBTOPICS))],
        "publish_date": pd,
        "description": " ".join(arng.choices(WORDS, k=12)),
        "main_content": body.replace(" ", "   ", 3) + " (Theo Reuters)",
        "keywords": [f"từ khóa {k}" for k in kws],
        "references": [f"nguồn {r}" for r in arng.sample(range(30), arng.randint(0, 2))],
        "comment_count": n_comments * 3,
        "top_comments": None if serial % 13 == 0 else comments(arng, n_comments),
        "ingested_at": f"{day:%Y-%m-%d}T23:00:00",
        "year": day.year, "month": day.month, "day": day.day,
    }
    return rec, topic


class Writer:
    def __init__(self, root, rng):
        self.root, self.rng, self.bytes, self.files = root, rng, 0, 0

    def put(self, rec, topic, day):
        u = uuid.UUID(int=self.rng.getrandbits(128))
        d = os.path.join(self.root, "vnexpress", topic, f"{day:%Y}", f"{day:%m}", f"{day:%d}")
        os.makedirs(d, exist_ok=True)
        r = self.rng
        stamp = f"{day:%Y%m%d}T{r.randint(0, 23):02d}{r.randint(0, 59):02d}{r.randint(0, 59):02d}"
        data = json.dumps(rec, ensure_ascii=False).encode("utf-8")
        with open(os.path.join(d, f"{stamp}_{u}.json"), "wb") as f:
            f.write(data)
        self.bytes += len(data)
        self.files += 1


def build(out, seed, articles, days, increments, reject_share=0.02):
    rng = random.Random(seed)
    per_day = max(1, articles // days)
    manifest = {"articles": articles, "days": days, "per_day": per_day, "parts": {}}
    seen = set()

    def part(name, day_articles, recrawl=()):
        w = Writer(os.path.join(out, name), rng)
        valid, rejected = set(), 0
        for serial, day in day_articles:
            reject = None
            if rng.random() < reject_share:
                reject = rng.choice(["url", "date"])
            rec, topic = article(rng, serial, day, seed, reject)
            w.put(rec, topic, day)
            if reject:
                rejected += 1
            else:
                valid.add(rec["url"].strip())
            if serial % 97 == 0 and not reject:  # same URL in a second file
                w.put(rec, topic, day)
        for serial, day in recrawl:
            rec, topic = article(rng, serial, day, seed, crawl=1)
            w.put(rec, topic, day)
            valid.add(rec["url"].strip())
        seen.update(valid)
        # silver `articles` rows once this part is loaded: distinct valid URLs
        manifest["parts"][name] = {"rejected": rejected, "articles_after": len(seen),
                                   "bytes": w.bytes, "files": w.files}

    day_of = lambda d: BASE_DAY + dt.timedelta(days=d)
    serial = 0
    by_day = {}
    for d in range(days):
        by_day[d] = list(range(serial, serial + per_day))
        serial += per_day
    part("initial", [(s, day_of(d)) for d in range(days) for s in by_day[d]])
    for k in range(1, increments + 1):
        d = days - 1 + k
        by_day[d] = list(range(serial, serial + per_day))
        serial += per_day
        part(f"day-{k}", [(s, day_of(d)) for s in by_day[d]],
             recrawl=[(s, day_of(d - 1)) for s in by_day[d - 1]])
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


if __name__ == "__main__":
    o, s, a, d, n = sys.argv[1:6]
    build(o, int(s), int(a), int(d), int(n))
