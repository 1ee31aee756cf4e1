"""Seeded FullStory export records and an in-process export API.

``generate_windows`` writes one gzipped JSON array per export window under
an input directory, plus a manifest of window starts and record counts.
Records carry the base export fields, the three custom-var families
(``user_*``, ``evt_*``, ``page_*``) and a unique ``evt_seq_int``; string
values include text Go's CSV writer must quote (``,`` ``"`` newlines, a
leading space, the exact field ``\\.``).

``FakeExportApi`` is an ``opener`` for the engine's ``HttpExportTransport``:
it answers the create → poll → results → signed-location flow with no
sockets and reads each window's payload from disk per request, so the
generator holds no records while the engine runs.
"""

from __future__ import annotations

import datetime as dt
import gzip
import io
import json
import os
import urllib.error
import urllib.parse

import numpy as np

UTC = dt.timezone.utc
API_URL = "https://api.bench.invalid"
DOWNLOAD_URL = "https://download.bench.invalid/exports/"
SEQ_STRIDE = 1_000_000  # evt_seq_int = window index * stride + record index


def _lit(values):
    """JSON literals of a fixed vocabulary, ready for the record template."""
    return [json.dumps(v, ensure_ascii=False) for v in values]


# String vocabularies. Each list mixes plain values with ones Go's CSV
# writer must quote: comma, double quote, newline, leading space, ``\.``.
NAMES = _lit(["Ada Lovelace", "Doe, Jane", 'Nick "the Knife" Ng', " Leading Space",
              "\\.", "Grace\nHopper", "Zoë Ångström", "plain"])
EMAIL_DOMAINS = ["example.com", "mail.test", "corp.invalid"]
EVENT_TYPES = _lit(["click", "navigate", "change", "load", "thrash", "custom"])
SUB_TYPES = _lit(["user", "page", "abandon", "dead"])
TARGET_TEXT = _lit(["Add to cart", "Buy now, pay later", 'Say "hi"', " indented",
                    "two\nlines", "\\.", "<b>&amp;</b>", "OK"])
SELECTORS = _lit(["div.cart > button", "a#buy", "input[name=\"q\"]", "span.x, span.y"])
PAGE_NAMES = _lit(["Home", "Checkout", "Search, results", "Account"])
URLS = _lit(["https://shop.example.com/", "https://shop.example.com/cart?a=1,2",
             "https://shop.example.com/p/\"quoted\"", "https://docs.example.com/x y"])
AGENTS = _lit(["Mozilla/5.0 (X11; Linux x86_64) Chrome/120.0",
               "Mozilla/5.0 (Macintosh; Intel Mac OS X 14_1) Safari/605.1.15",
               "curl/8.4.0"])
BROWSERS = _lit(["Chrome", "Safari", "Firefox", "Edge"])
DEVICES = _lit(["Desktop", "Mobile", "Tablet"])
PLATFORMS = _lit(["Web", "Android", "iOS"])
OSES = _lit(["Linux", "macOS", "Windows", "Android"])
METHODS = _lit(["GET", "POST", "PUT"])
PLANS = _lit(["free", "pro", "enterprise, annual", 'team "beta"'])
LABELS = _lit(["checkout", "x<y & z>w", "multi\nline", " spaced", "\\.", "plain"])
SECTIONS = _lit(["hero", "footer, bottom", 'nav "main"'])

RECORD_TEMPLATE = (
    '{"IndvId":%d,"UserId":%d,"SessionId":%d,"PageId":%d,'
    '"UserCreated":"%sZ","UserAppKey":"app-%d","UserDisplayName":%s,'
    '"UserEmail":"user%d@%s","EventStart":"%sZ","EventType":%s,'
    '"EventSubType":%s,"EventTargetText":%s,"EventTargetSelector":%s,'
    '"EventPageOffset":%d,"EventSessionOffset":%d,"EventModFrustrated":%d,'
    '"EventModDead":%d,"EventModError":%d,"EventModSuspicious":%d,'
    '"EventCumulativeLayoutShift":%s,"SessionStart":"%sZ","PageName":%s,'
    '"PageStart":"%sZ","PageDuration":%d,"PageActiveDuration":%d,'
    '"PageUrl":%s,"PageRefererUrl":%s,"PageIp":"10.%d.%d.%d",'
    '"PageLatLong":"%.4f,%.4f","PageUserAgent":%s,"PageBrowser":%s,'
    '"PageBrowserVersion":"%d.0","PageDevice":%s,"PagePlatform":%s,'
    '"PageOperatingSystem":%s,"PageScreenWidth":%d,"PageScreenHeight":%d,'
    '"PageViewportWidth":%d,"PageViewportHeight":%d,"PageNumEvents":%d,'
    '"PageNumDerivedEvents":%d,"PageNumInfos":%d,"PageNumWarnings":%d,'
    '"PageNumErrors":%d,"PageClusterId":%d,"PageMaxScrollDepthPercent":%d,'
    '"LoadDomContentTime":%d,"LoadEventTime":%d,"LoadFirstPaintTime":%d,'
    '"LoadLargestPaintTime":%d,"ReqMethod":%s,"ReqStatus":%d,'
    '"user_plan_str":%s,"user_age_int":%d,"evt_seq_int":%d,'
    '"evt_label_str":%s,"evt_amount_real":%s,"page_section_str":%s%s}'
)


def _iso(base_us: int, offsets_us: np.ndarray) -> list[str]:
    stamps = np.asarray(base_us + offsets_us, dtype="datetime64[us]")
    return np.datetime_as_string(stamps, unit="us").tolist()


def _window_records(rng: np.random.Generator, start: dt.datetime,
                    seconds: int, n: int, seq_base: int) -> bytes:
    """One window's records as a JSON array, sorted by EventStart."""
    ri = rng.integers
    base_us = int(start.timestamp()) * 1_000_000
    ev_off = np.sort(ri(0, seconds * 1_000_000, n))

    def pick(vocab):
        return [vocab[i] for i in ri(0, len(vocab), n).tolist()]

    def ints(lo, hi):
        return ri(lo, hi, n).tolist()

    def reals(scale):
        # two decimals, printed the way the JSON number appears on the wire
        return [repr(v) for v in (ri(0, scale * 100, n) / 100).tolist()]

    indv = ints(1, 5_000_000)
    # optional keys: a known field (EventCustomName), a page_* var and a
    # user_* bool, each present on a seeded subset of records
    extras = []
    for opt in ri(0, 8, n).tolist():
        frag = ""
        if opt & 1:
            frag += ',"EventCustomName":"signup-step-%d"' % opt
        if opt & 2:
            frag += ',"page_scroll_real":%d.5' % opt
        if opt & 4:
            frag += ',"user_vip_bool":%s' % ("true" if opt & 1 else "false")
        extras.append(frag)
    cols = [
        indv, indv, ints(1, 2**62), ints(1, 2**62),
        _iso(base_us - 400 * 86_400_000_000, ri(0, 300 * 86_400_000_000, n)),
        ints(1, 50), pick(NAMES),
        indv, [EMAIL_DOMAINS[i % 3] for i in indv],
        _iso(base_us, ev_off), pick(EVENT_TYPES),
        pick(SUB_TYPES), pick(TARGET_TEXT), pick(SELECTORS),
        ints(0, 600_000), ints(0, 3_600_000), ints(0, 2), ints(0, 2),
        ints(0, 2), ints(0, 2),
        reals(3), _iso(base_us, ev_off - ri(0, 3_600_000_000, n)), pick(PAGE_NAMES),
        _iso(base_us, ev_off - ri(0, 600_000_000, n)), ints(0, 900_000),
        ints(0, 600_000),
        pick(URLS), pick(URLS), ints(0, 256), ints(0, 256), ints(1, 255),
        (ri(-9_000_000, 9_000_000, n) / 100_000).tolist(),
        (ri(-18_000_000, 18_000_000, n) / 100_000).tolist(),
        pick(AGENTS), pick(BROWSERS),
        ints(80, 130), pick(DEVICES), pick(PLATFORMS),
        pick(OSES), ints(320, 3840), ints(480, 2160),
        ints(320, 3840), ints(480, 2160), ints(1, 2000),
        ints(0, 500), ints(0, 50), ints(0, 20),
        ints(0, 10), ints(0, 1000), ints(0, 101),
        ints(50, 5000), ints(50, 9000), ints(20, 3000),
        ints(20, 6000), pick(METHODS), ints(200, 600),
        pick(PLANS), ints(13, 95), range(seq_base, seq_base + n),
        pick(LABELS), reals(500), pick(SECTIONS), extras,
    ]
    body = ",".join(RECORD_TEMPLATE % row for row in zip(*cols))
    return ("[" + body + "]").encode()


def generate_windows(out_dir: str, seed: int, start: dt.datetime,
                     window: dt.timedelta, n_windows: int,
                     records: tuple[int, int]) -> dict:
    """Write ``n_windows`` gzipped windows and a manifest; return it.

    ``records`` is the inclusive (low, high) record count per window. The
    same seed gives the same bytes; an existing manifest is reused."""
    manifest_path = os.path.join(out_dir, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    os.makedirs(out_dir, exist_ok=True)
    seconds = int(window.total_seconds())
    windows = []
    for w in range(n_windows):
        rng = np.random.default_rng([seed, w])
        n = int(rng.integers(records[0], records[1] + 1))
        ws = start + w * window
        payload = _window_records(rng, ws, seconds, n, w * SEQ_STRIDE)
        unix = int(ws.timestamp())
        with open(os.path.join(out_dir, f"w{unix}.json.gz"), "wb") as f:
            f.write(gzip.compress(payload, compresslevel=1))
        windows.append({"start": unix, "records": n})
    manifest = {"seed": seed, "window_s": seconds, "windows": windows}
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, manifest_path)
    return manifest


def read_window(in_dir: str, unix_start: int) -> list[dict]:
    with open(os.path.join(in_dir, f"w{unix_start}.json.gz"), "rb") as f:
        return json.loads(gzip.decompress(f.read()))


def _parse_rfc3339(s: str) -> int:
    return int(dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%SZ")
               .replace(tzinfo=UTC).timestamp())


class FakeExportApi:
    """``opener`` for ``HttpExportTransport``: serves the generated windows.

    An export request must name exactly one generated window and ask for
    every field family the records carry; anything else is answered with
    an HTTP error, which the engine sees as a failed export."""

    def __init__(self, in_dir: str, manifest: dict):
        self.in_dir = in_dir
        self.window_s = manifest["window_s"]
        self.starts = {w["start"] for w in manifest["windows"]}

    def __call__(self, req):
        url = req.full_url
        if url.startswith(DOWNLOAD_URL):
            unix = int(url[len(DOWNLOAD_URL):])
            with open(os.path.join(self.in_dir, f"w{unix}.json.gz"), "rb") as f:
                return io.BytesIO(f.read())
        path = urllib.parse.urlparse(url).path
        if path == "/segments/v1/exports" and req.data is not None:
            params = json.loads(req.data)
            start = _parse_rfc3339(params["timeRange"]["start"])
            end = _parse_rfc3339(params["timeRange"]["end"])
            fields = set(params["fields"])
            if (end - start != self.window_s or start not in self.starts
                    or not {"user_*", "evt_*", "page_*", "EventStart"} <= fields):
                raise self._error(url, 400, "no such window")
            return self._json({"operationId": f"op{start}"})
        if path.startswith("/operations/v1/op"):
            op = path.rsplit("/", 1)[1]
            return self._json({
                "type": "SEARCH_EXPORT", "state": "COMPLETED",
                "estimatePctComplete": 100,
                "results": {"searchExportId": op[2:]},
            })
        if path.startswith("/search/v1/exports/") and path.endswith("/results"):
            export_id = path.split("/")[4]
            return self._json({"location": DOWNLOAD_URL + export_id})
        raise self._error(url, 404, "not found")

    @staticmethod
    def _json(obj) -> io.BytesIO:
        return io.BytesIO(json.dumps(obj).encode())

    @staticmethod
    def _error(url: str, code: int, msg: str) -> urllib.error.HTTPError:
        return urllib.error.HTTPError(url, code, msg, {}, io.BytesIO(msg.encode()))
