"""Drop-in CLI — argv-compatible with the reference binary
(`minicrawler5 [options] [urloptions] url ...`, src/cli.c:13-153,
src/main.c:14-32), executed on Spark:

    python -m minicrawler_spark.cli -t5 -D100 -g url1 -P 'a=1' url2

Options (reference semantics, incl. the attached-value quirks:
-tSECONDS -DMILIS -pSTRING -mINT attach; -w/-A/-b/-u/-P/-C/-X take
the next argv):
    -2 -6 -8 -A -b -c -D -g -h -i -k -l -m -p -S -t -u -v -w
urloptions: -C (replaces '%' in the -w header for the next URL),
    -P (POST body), -X (custom method).

Differences vs the reference, by design: output records are ordered
by seed index (the reference prints in completion order, which is
timing-dependent); -S is an accepted no-op (TLS is controlled by the
URL scheme); -2 disables HTTP/2 exactly like MCURL_OPT_DISABLE_HTTP2
(by default ALPN offers h2 + http/1.1, sources/http2.py); fetching
defaults to the real-socket fetcher, on the wall clock, unless
--fixture picks the fixture web (sandbox testing).
"""

from __future__ import annotations

import sys

VERSION = "5.2.7"


class UsageError(ValueError):
    """Raised for malformed argv (e.g. a value option at end of argv)."""


def _atoi(s):
    """C atoi: parse an optional-signed leading integer, else 0
    (reference: -t/-D/-m go through atoi, cli.c:78-79,101)."""
    import re as _re

    m = _re.match(r"\s*[+-]?\d+", s)
    return int(m.group()) if m else 0


def parse_argv(argv):
    """initurls (cli.c:50-153) — global options accumulate, url
    options bind to the next URL."""

    def next_arg(i):
        # the reference reads argv[t+1] unchecked (UB in C); we make
        # the truncated-argv case a usage error instead
        if i + 1 >= len(argv):
            raise UsageError("option %s requires a value" % argv[i])
        return argv[i + 1]

    settings_kw = {}
    seeds = []
    customheader = ""
    customagent = ""
    jar = []
    writehead = False
    fixture = False
    pending = {}
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "-v":
            pass  # debug goes to log4j, not stderr
        elif a == "-S":
            pass  # no-op: TLS follows the URL scheme
        elif a == "-2":
            settings_kw["disable_http2"] = True  # MCURL_OPT_DISABLE_HTTP2
        elif a == "-h":
            writehead = True
        elif a == "-i":
            settings_kw["impatient"] = True
        elif a == "-c":
            settings_kw["convert_to_text"] = True
            settings_kw["convert_to_utf8"] = True
        elif a == "-8":
            settings_kw["convert_to_utf8"] = True
        elif a == "-g":
            settings_kw["gzip"] = True
        elif a == "-k":
            settings_kw["insecure"] = True
        elif a == "-l":
            settings_kw["follow_redirects"] = False
        elif a == "-6":
            settings_kw["ipv6_only"] = True
        elif a.startswith("-t"):
            # attached-value options match bare too (strncmp, cli.c:78):
            # "-t" == atoi("") == 0, never a seed URL
            settings_kw["timeout"] = _atoi(a[2:])
        elif a.startswith("-D"):
            settings_kw["delay"] = _atoi(a[2:])
        elif a.startswith("-p"):
            settings_kw["password"] = a[2:]
        elif a.startswith("-m"):
            settings_kw["max_page_size"] = _atoi(a[2:]) * 1024 * 1024
        elif a == "-w":
            customheader = next_arg(i)
            i += 1
        elif a == "-A":
            customagent = next_arg(i).replace("%version%", VERSION)
            i += 1
        elif a == "-u":
            settings_kw["username"] = next_arg(i)
            i += 1
        elif a == "-b":
            from .functions.cookies import parse_netscape

            for line in next_arg(i).splitlines():
                c = parse_netscape(line)
                if c is not None and len(jar) < 25:
                    jar.append(c)
            i += 1
        elif a == "--fixture":
            fixture = True
        elif a == "--warc":
            # ADDITION beyond the reference grammar: also archive the
            # results as .warc.gz (+ .cdxj index) under this directory
            settings_kw["_warc_dir"] = next_arg(i)
            i += 1
        elif a == "-P":
            pending["post"] = next_arg(i).encode()
            pending.setdefault("method", "POST")
            i += 1
        elif a == "-X":
            pending["method"] = next_arg(i)
            i += 1
        elif a == "-C":
            if customheader:
                pending["customheader"] = (
                    customheader.replace("%", next_arg(i)) + "\r\n"
                )
            i += 1
        else:
            seed = {"url": a, "cookies": list(jar)}
            seed.update(pending)
            pending = {}
            seeds.append(seed)
        i += 1

    settings_kw["customheader"] = (
        customheader + "\r\n" if customheader else ""
    )
    settings_kw["customagent"] = customagent
    settings_kw["writehead"] = writehead
    return seeds, settings_kw, writehead, fixture


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if not argv:
        print(
            "\nminicrawler-spark, version %s\n\n"
            "Usage:   python -m minicrawler_spark.cli [options] "
            "[urloptions] url [[url2options] url2]...\n" % VERSION
        )
        return 1

    try:
        seeds, settings_kw, writehead, fixture = parse_argv(argv)
    except UsageError as e:
        print("minicrawler-spark: %s" % e, file=sys.stderr)
        return 1
    if not seeds:
        return 1

    from pyspark.sql import SparkSession

    from .config import CrawlSettings
    from .functions.output import to_text
    from .streaming.crawl import crawl

    spark = (
        SparkSession.builder.appName("minicrawler-spark-cli")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    fetcher = (
        "minicrawler_spark.sources.fixtures:fixture_fetcher" if fixture
        else "minicrawler_spark.sources.httpfetch:http_fetcher"
    )
    warc_dir = settings_kw.pop("_warc_dir", None)
    settings = CrawlSettings(**settings_kw)
    results = crawl(spark, seeds, settings, fetcher_spec=fetcher)
    if warc_dir:
        from .sources.warc import write_warc

        results = results.localCheckpoint(eager=True)  # one crawl, two sinks
        manifest = write_warc(results, warc_dir).collect()
        print(
            "warc: %d records in %d archive(s) under %s"
            % (
                sum(m["n_records"] for m in manifest),
                len(manifest),
                warc_dir,
            ),
            file=sys.stderr,
        )
    sys.stdout.buffer.write(to_text(results, writehead=writehead))
    sys.stdout.buffer.flush()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
