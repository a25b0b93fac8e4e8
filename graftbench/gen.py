#!/usr/bin/env python3
"""Input generator for the graft benchmark: one single-threaded process.

Every input the benchmark feeds graft comes from here, and each is a
function of its `--seed` (the live publisher adds wall-clock due times):

  gen.py corpus --seed N --out DIR --events E --files F
      Sysmon JSON lines for the closed replay drain, published into DIR
      before timing starts.
  gen.py rules --seed N --out DIR --rules R
      A Sigma YAML rule repository (R stateless rules plus a few timeframe
      rules that the parity compiler skips).
  gen.py tables --seed N --out DIR
      The parquet star schema, text and vector tables the batch fleet reads.
  gen.py live --seed N --out DIR --rates A,B,C --hold S,S,S --file-ms M
      Open-loop publisher: holds each fixed rate for its hold time,
      publishing one file every M ms on a fixed schedule, whatever the
      consumer does. Prints one JSON summary line (counts per rate phase,
      how late the generator ran: gen_late_ms).

Every file is written under a dot-prefixed temporary name and renamed into
place, so a file-source listing never sees a partial file (Spark's file
source ignores names starting with `.` or `_`).

Events carry all 38 sysmon `event_data` fields at realistic widths, an
event_id mix dominated by process creation (1) and process access (10), a
long CommandLine, and `due_ms`: the wall-clock time the event was due to be
published. The uuid encodes the event's sequence number, so the checker
can map every alert back to its source event. A stated share of lines is
malformed (truncated JSON or non-JSON text); in `live` mode a stated share
of events is re-published, byte for byte, one file later (a duplicate
within the dedup watermark).
"""
import argparse
import json
import os
import random
import time

MALFORMED_SHARE = 0.01
DUPLICATE_SHARE = 0.02

EVENT_IDS = [(1, 0.40), (10, 0.30), (3, 0.12), (7, 0.08), (11, 0.05), (13, 0.05)]
# The event_id of event `seq` is EID_CYCLE[seq % 100]: every block of 100
# consecutive events has exactly the mix above, so how many events each
# rule family sees does not vary with the seed.
EID_CYCLE = [eid for eid, share in EVENT_IDS for _ in range(round(share * 100))]
random.Random(0).shuffle(EID_CYCLE)

DIRS = ["C:\\Windows\\System32\\", "C:\\Windows\\SysWOW64\\",
        "C:\\Program Files\\Microsoft Office\\root\\Office16\\",
        "C:\\Program Files (x86)\\Google\\Chrome\\Application\\",
        "C:\\Users\\Public\\", "C:\\ProgramData\\", "C:\\Windows\\",
        "C:\\Windows\\Microsoft.NET\\Framework64\\v4.0.30319\\",
        "C:\\Users\\alice\\AppData\\Local\\Temp\\"]
EXES = ["svchost.exe", "lsass.exe", "services.exe", "cmd.exe",
        "powershell.exe", "rundll32.exe", "wsmprovhost.exe", "msbuild.exe",
        "explorer.exe", "winword.exe", "excel.exe", "chrome.exe",
        "taskmgr.exe", "wmiprvse.exe", "procexp64.exe", "MsMpEng.exe",
        "csrss.exe", "wininit.exe", "vmtoolsd.exe", "cmdkey.exe", "rar.exe",
        "xwizard.exe", "verclsid.exe", "DllHost.exe", "wmic.exe",
        "msiexec.exe", "conhost.exe", "regsvr32.exe", "mshta.exe",
        "certutil.exe", "bitsadmin.exe", "schtasks.exe", "net.exe",
        "whoami.exe", "sdiagnhost.exe", "taskhostw.exe", "bash.exe"]
ACCESS = ["0x1000", "0x1410", "0x1FFFFF", "0x1fffff", "0x143a", "0x1010",
          "0x40", "0x100000", "0x1F3FFF", "0x1028", "0x1400", "0x1438",
          "0x1F0FFF", "0x1F1FFF"]
CT_FRAMES = ["C:\\Windows\\SYSTEM32\\ntdll.dll+9d4c4",
             "C:\\Windows\\System32\\KERNELBASE.dll+2bcfe",
             "C:\\Windows\\System32\\KERNEL32.DLL+17034",
             "C:\\Windows\\SYSTEM32\\dbghelp.dll+1a2b",
             "C:\\Windows\\System32\\comsvcs.dll+3c1f",
             "C:\\Windows\\System32\\cmlua.dll+51ad",
             "C:\\Python27\\DLLs\\_ctypes.pyd+8d3a",
             "C:\\Python27\\python27.dll+4c21",
             "C:\\Windows\\Microsoft.NET\\Framework64\\v2.0.50727\\mscorwks.dll+11",
             "C:\\Windows\\System32\\editionupgrademanagerobj.dll+8a",
             "UNKNOWN(00000000000A1B2C)", "UNKNOWN(0000000000000000)"]
CL_WORDS = ["-NoProfile", "-ExecutionPolicy", "Bypass", "-WindowStyle",
            "Hidden", "-enc", "/c", "/q", "/s", "start", "copy", "echo",
            "reg", "query", "HKLM\\Software\\Microsoft\\Windows\\CurrentVersion\\Run",
            "schtasks", "/create", "/tn", "Updater", "/tr", "net", "user",
            "/domain", "whoami", "/all", "ipconfig", "/flushdns", "tasklist",
            "certutil", "-urlcache", "-split", "-f", "http://10.0.0.5/a.bin",
            "https://updates.example.net/payload.ps1", "format", "list",
            "wmic", "process", "call", "create", "assoc", ".txt=txtfile",
            "svchost.exe", "-k", "netsvcs", "-p"]
CL_RARE = ["shutdown /r /f /t 00", "net stop SuperBackupMan",
           "CL_Invocation.ps1 SyncInvoke", "CL_Mutexverifiers.ps1 runAfterCancelProcess",
           " /list", " a ", "/Processid:{3E5FC7F9-9A51-4367-9063-A120244FBEC7}",
           "{7D1C0A3E-1B2C-4D5E-8F90-A1B2C3D4E5F6}", "wmic os get /format:http"]
INTEGRITY = ["Low", "Medium", "High", "System"]
COMPANIES = ["Microsoft Corporation", "Google LLC", "Oracle", "Python Software Foundation"]


def hexstr(rng, n):
    return "%0*x" % (n, rng.getrandbits(4 * n))


def guid(rng):
    return "{%s-%s-%s-%s-%s}" % (hexstr(rng, 8).upper(), hexstr(rng, 4).upper(),
                                 hexstr(rng, 4).upper(), hexstr(rng, 4).upper(),
                                 hexstr(rng, 12).upper())


def path(rng):
    return rng.choice(DIRS) + rng.choice(EXES)


def segments(rng, n=512):
    """Command-line building blocks: runs of 2-6 words or hex blobs,
    about 40 characters each, drawn once per generator."""
    out = []
    for _ in range(n):
        ws = [rng.choice(CL_WORDS) if rng.random() < 0.85 else hexstr(rng, rng.randint(16, 120))
              for _ in range(rng.randint(2, 6))]
        out.append(" ".join(ws))
    return out


def command_line(rng, image, segs, rare=False):
    """A long command line, now and then (`rare`) carrying a fragment some
    rules look for."""
    k = rng.randint(2, 14)
    parts = ['"%s"' % image] + rng.choices(segs, k=k)
    if rare:
        parts.insert(rng.randint(1, len(parts)), rng.choice(CL_RARE))
    return " ".join(parts)


def call_trace(rng, rare=False):
    """An ordinary ntdll/KERNELBASE stack; with `rare`, one more frame from
    the rarer modules some rules look for."""
    frames = [rng.choice(CT_FRAMES[:3]) for _ in range(rng.randint(3, 8))]
    if rare:
        frames.insert(rng.randint(0, len(frames)), rng.choice(CT_FRAMES[3:]))
    return "|".join(frames)


def make_uuid(rng, seq):
    """A 36-character uuid whose last 12 hex digits are the sequence number."""
    return "%s-%s-4%s-%s-%012x" % (hexstr(rng, 8), hexstr(rng, 4), hexstr(rng, 3),
                                   hexstr(rng, 4), seq)


def event(rng, seq, due_ms, hosts, segs):
    """One sysmon event. Its event_id, and whether it carries a rare
    call-trace frame (1 in 10) or a rare command-line fragment (1 in 25),
    follow fixed cycles over `seq`; everything else is drawn from `rng`."""
    eid = EID_CYCLE[seq % len(EID_CYCLE)]
    image = path(rng)
    parent = path(rng)
    utc = time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(due_ms / 1000.0)) + ".%03d" % (due_ms % 1000)
    ed = {
        "CallTrace": call_trace(rng, seq % 10 == 3) if eid == 10 else "",
        "GrantedAccess": rng.choice(ACCESS) if eid == 10 else "",
        "SourceImage": path(rng) if eid == 10 else "",
        "TargetImage": path(rng) if eid == 10 else "",
        "Image": image,
        "ParentImage": parent,
        "OriginalFileName": image.rsplit("\\", 1)[1].upper(),
        "sha1": hexstr(rng, 40).upper(),
        "EventType": rng.choice(["CreateKey", "SetValue", "DeleteValue", "-"]),
        "WMIcommand": "",
        "EventLog": "Microsoft-Windows-Sysmon/Operational",
        "Imphash": hexstr(rng, 32).upper(),
        "DestinationPort": str(rng.choice([80, 443, 445, 3389, 8080, 53, rng.randint(1024, 65535)])),
        "Initiated": rng.choice(["true", "false"]),
        "User": "CORP\\user%03d" % rng.randint(0, 499),
        "DestinationHostname": "srv%03d.corp.example.com" % rng.randint(0, 999),
        "StartModule": "",
        "EventID": str(eid),
        "TargetProcessAddress": "0x%012X" % rng.getrandbits(44),
        "StartFunction": "",
        "IntegrityLevel": rng.choice(INTEGRITY),
        "Description": "Windows host process component %d" % rng.randint(0, 99),
        "CurrentDirectory": rng.choice(DIRS),
        "Company": rng.choice(COMPANIES),
        "Product": "Microsoft\u00ae Windows\u00ae Operating System",
        "ProcessCommandLine": "",
        "DestinationIp": "10.%d.%d.%d" % (rng.randint(0, 255), rng.randint(0, 255), rng.randint(1, 254)),
        "DestinationIsIpv6": "false",
        "SourcePort": str(rng.randint(1024, 65535)),
        "ParentPrcessName": parent.rsplit("\\", 1)[1],
        "processCommandLine": "",
        "LogonId": "0x%x" % rng.getrandbits(24),
        "SubjectLogonId": "0x3e7",
        "FileVersion": "10.0.%d.%d" % (rng.randint(10000, 22631), rng.randint(1, 4000)),
        "ParentUser": "NT AUTHORITY\\SYSTEM",
        "CommandLine": command_line(rng, image, segs, seq % 25 == 7),
        "ParentCommandLine": command_line(rng, parent, segs)[:rng.randint(40, 160)],
        "UtcTime": utc,
    }
    if eid == 1 and rng.random() < 0.1:
        ed["ProcessCommandLine"] = ed["CommandLine"][:200]
    host = rng.choice(hosts)
    return {"computer_name": host[0], "event_id": eid, "host": host[1],
            "event_data": ed, "uuid": make_uuid(rng, seq), "due_ms": due_ms}


def malformed(rng, line):
    """A line the JSON parser must reject: truncated JSON or plain text."""
    if rng.random() < 0.5:
        return line[:rng.randint(10, len(line) - 10)]
    return "-- sysmon forwarder heartbeat %s --" % hexstr(rng, 16)


def hosts_for(rng, n=200):
    return [("WKS-%04d.corp.example.com" % i, "10.20.%d.%d" % (i // 250, i % 250 + 1))
            for i in range(n)]


def publish(out, name, lines):
    """Write `lines` to out/name atomically: temp name, fsync-free rename."""
    tmp = os.path.join(out, "." + name + ".tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.rename(tmp, os.path.join(out, name))


def gen_corpus(args):
    rng = random.Random(args.seed)
    hosts = hosts_for(rng)
    segs = segments(rng)
    os.makedirs(args.out, exist_ok=True)
    per_file = args.events // args.files
    seq = 0
    malformed_n = 0
    for fi in range(args.files):
        lines = []
        for _ in range(per_file):
            line = json.dumps(event(rng, seq, 0, hosts, segs), separators=(",", ":"))
            seq += 1
            if rng.random() < MALFORMED_SHARE:
                line = malformed(rng, line)
                malformed_n += 1
            lines.append(line)
        publish(args.out, "part-%d-%05d.json" % (args.seed, fi), lines)
    print(json.dumps({"events": seq, "files": args.files, "malformed": malformed_n}))


# ---- Sigma rule repository ------------------------------------------------

TACTICS = ["attack.execution", "attack.persistence", "attack.privilege_escalation",
           "attack.defense_evasion", "attack.credential_access", "attack.discovery",
           "attack.lateral_movement", "attack.command_and_control"]
CATEGORIES = [("process_creation", 0.55), ("process_access", 0.30), ("network_connection", 0.15)]
LEVELS = ["low", "medium", "high", "critical"]


def yq(s):
    """Single-quoted YAML scalar."""
    return "'" + s.replace("'", "''") + "'"


def specific(rng, category):
    """A selective matcher: one executable, one rare command-line fragment,
    one access mask or one rare call-trace module."""
    kind = rng.random()
    if category == "process_access":
        if kind < 0.4:
            return rng.choice(["TargetImage", "SourceImage"]) + "|endswith", [yq("\\" + rng.choice(EXES))]
        if kind < 0.7:
            return "GrantedAccess", [yq(rng.choice(ACCESS))]
        frag = rng.choice(CT_FRAMES[3:]).split("\\")[-1].split("+")[0]
        return "CallTrace|contains", [yq(frag)]
    if kind < 0.7:
        return rng.choice(["Image", "ParentImage"]) + "|endswith", [yq("\\" + rng.choice(EXES))]
    return "CommandLine|contains", [yq(rng.choice(CL_RARE))]


def matcher(rng, category):
    """A broader matcher over the event pools."""
    kind = rng.random()
    if kind < 0.2:
        return "CommandLine|contains", [yq(w) for w in rng.sample(CL_WORDS, rng.randint(1, 2))]
    if kind < 0.3:
        return "CommandLine|contains|all", [yq(w) for w in rng.sample(CL_WORDS, 2)]
    if kind < 0.45:
        return "CurrentDirectory|startswith", [yq(rng.choice(DIRS))]
    if kind < 0.6:
        return "IntegrityLevel", [yq(rng.choice(INTEGRITY))]
    if kind < 0.7:
        return "DestinationPort", [yq(rng.choice(["80", "443", "445", "3389"]))]
    if kind < 0.85:
        return "User|re", [yq("CORP\\\\user0%d[0-9]" % rng.randint(0, 9))]
    return "Company", [yq(rng.choice(COMPANIES))]


def selection(rng, category, n):
    """One specific matcher plus n-1 broader ones, ANDed."""
    lines = []
    used = set()
    for j in range(n):
        key, vals = specific(rng, category) if j == 0 else matcher(rng, category)
        if key in used:
            continue
        used.add(key)
        if len(vals) == 1 and not key.endswith("|all"):
            lines.append("        %s: %s" % (key, vals[0]))
        else:
            lines.append("        %s:" % key)
            lines.extend("            - %s" % v for v in vals)
    return lines


def rule_yaml(rng, i, timeframe=False):
    r = rng.random()
    category = "process_creation"
    for c, p in CATEGORIES:
        if r < p:
            category = c
            break
        r -= p
    tac = rng.choice(TACTICS)
    tech = "t1%03d" % rng.randint(0, 599)
    lines = [
        "title: Generated detection %04d %s" % (i, hexstr(rng, 6)),
        "id: %s" % guid(rng)[1:-1].lower(),
        "status: experimental",
        "description: Synthetic rule %d for the graft benchmark (%s)." % (i, category),
        "author: graft benchmark",
        "references:",
        "    - https://example.org/sigma/%04d" % i,
        "tags:",
        "    - %s" % tac,
        "    - attack.%s" % tech,
        "    - attack.%s.%03d" % (tech, rng.randint(1, 9)),
        "logsource:",
        "    category: %s" % category,
        "    product: windows",
        "detection:",
        "    selection:",
    ]
    lines += selection(rng, category, rng.randint(2, 3))
    shape = rng.random()
    if timeframe:
        lines += ["    timeframe: 5m", "    condition: selection | count() by ComputerName > 5"]
    elif shape < 0.5:
        lines.append("    condition: selection")
    elif shape < 0.8:
        lines.append("    filter:")
        lines += selection(rng, category, 1)
        lines.append("    condition: selection and not filter")
    else:
        lines.append("    selection_alt:")
        lines += selection(rng, category, 2)
        lines.append("    condition: 1 of selection*")
    lines.append("level: %s" % rng.choice(LEVELS))
    return "\n".join(lines) + "\n"


def gen_rules(args):
    rng = random.Random(args.seed * 7919 + 1)
    os.makedirs(args.out, exist_ok=True)
    n_tf = max(1, args.rules // 50)
    for i in range(args.rules + n_tf):
        text = rule_yaml(rng, i, timeframe=i >= args.rules)
        name = "rule_%04d.yml" % i
        tmp = os.path.join(args.out, "." + name)
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(text)
        os.rename(tmp, os.path.join(args.out, name))
    print(json.dumps({"files": args.rules + n_tf, "timeframe": n_tf}))


# ---- batch tables -----------------------------------------------------------

WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer", "filter",
         "small", "slow", "merge", "order", "vector", "line", "table", "data",
         "agg", "value", "key", "stream", "window", "a", "spark", "part", "group",
         "big", "sort", "query", "fast", "the"]


def gen_tables(args):
    """The star schema plus documents/embeddings/events tables at the
    scale given by --scale (1.0 = 60,000 lineitem rows)."""
    import datetime
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(args.seed)
    s = args.scale
    n_cust, n_supp, n_part = int(1500 * s), int(100 * s), int(2000 * s)
    n_ord, n_line = int(15000 * s), int(60000 * s)
    n_ev, n_doc, n_emb = int(10000 * s), int(500 * s), int(500 * s)
    os.makedirs(args.out, exist_ok=True)

    def write(name, cols):
        tmp = os.path.join(args.out, "." + name + ".parquet")
        pq.write_table(pa.table(cols), tmp)
        os.rename(tmp, os.path.join(args.out, name + ".parquet"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, end, n):
        d0 = datetime.datetime(*start)
        span = (datetime.datetime(*end) - d0).days
        return pa.array([d0 + datetime.timedelta(days=int(x)) for x in rng.integers(0, span + 1, n)],
                        type=pa.timestamp("us"))

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write("region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": regions})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": ["NATION_%d" % i for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"], n_cust)})
    write("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = ["small", "red", "hot", "old", "large", "blue", "cold", "new"]
    noun = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
    write("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": ["%s %s" % (adj[a], noun[b]) for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": ["Brand#%d" % b for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    write("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": days((1995, 1, 1), (2001, 8, 1), n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    okeys = np.sort(rng.integers(0, n_ord, n_line))
    linenos = np.zeros(n_line, dtype=np.int32)
    for i in range(1, n_line):
        linenos[i] = linenos[i - 1] + 1 if okeys[i] == okeys[i - 1] else 0
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    rf = rng.choice(["A", "N", "R"], n_line)
    write("lineitem", {
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(linenos % 7 + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": rf,
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": days((1995, 1, 2), (2001, 11, 4), n_line)})
    t0 = datetime.datetime(2024, 1, 1)
    offs = np.sort(rng.choice(30 * 86400 * 1000000, n_ev, replace=False))
    write("events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array([t0 + datetime.timedelta(microseconds=int(o)) for o in offs], pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n_ev),
        "value": money(0.01, 490.0, n_ev),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))].split()
            base[int(rng.integers(0, len(base)))] = "dup"
            texts.append(" ".join(base + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
    write("documents", {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "es", "fr", "zh", "de"], n_doc),
        "source": ["src%d" % (i % 20) for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vecs = rng.normal(size=(n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array([v.astype(np.float32) for v in vecs], pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    print(json.dumps({"lineitem": n_line, "scale": s}))


# ---- open-loop live publisher ---------------------------------------------

def gen_live(args):
    """Publish events on a fixed schedule: phase k holds rates[k] events/s
    for hold[k] seconds, one file every file_ms. The schedule is fixed in
    advance (open loop): a slow consumer never slows the generator, and a
    late generator is reported (gen_late_ms), not hidden."""
    rng = random.Random(args.seed * 104729 + 3)
    hosts = hosts_for(rng)
    segs = segments(rng)
    rates = [float(r) for r in args.rates.split(",")]
    holds = [float(h) for h in args.hold.split(",")]
    os.makedirs(args.out, exist_ok=True)
    tick = args.file_ms / 1000.0
    seq = args.seq_base
    start = time.time() + 0.2
    t = start
    late = []
    phases = []
    pending_dups = []
    fi = 0
    for rate, hold in zip(rates, holds):
        n_ticks = int(round(hold / tick))
        phase = {"rate": rate, "events": 0, "malformed": 0, "duplicates": 0,
                 "first_seq": seq, "t0_ms": int(t * 1000)}
        carry = 0.0
        for _ in range(n_ticks):
            due_ms = int(t * 1000)
            carry += rate * tick
            n = int(carry)
            carry -= n
            lines = pending_dups
            pending_dups = []
            for _ in range(n):
                line = json.dumps(event(rng, seq, due_ms, hosts, segs), separators=(",", ":"))
                seq += 1
                if rng.random() < MALFORMED_SHARE:
                    line = malformed(rng, line)
                    phase["malformed"] += 1
                elif rng.random() < DUPLICATE_SHARE:
                    pending_dups.append(line)
                    phase["duplicates"] += 1
                lines.append(line)
            phase["events"] += n
            now = time.time()
            if now < t:
                time.sleep(t - now)
            else:
                late.append((now - t) * 1000.0)
            if lines:
                publish(args.out, "live-%d-%06d.json" % (args.seq_base, fi), lines)
                fi += 1
                done = time.time()
                phase.setdefault("pub0_ms", done * 1000.0)
                phase["pub1_ms"] = done * 1000.0
            t += tick
        phase["last_seq"] = seq
        phase["t1_ms"] = int(t * 1000)
        phases.append(phase)
    if pending_dups:
        publish(args.out, "live-%d-%06d.json" % (args.seq_base, fi), pending_dups)
        fi += 1
    late.sort()
    print(json.dumps({
        "phases": phases, "files": fi, "events": seq - args.seq_base,
        "gen_late_ms": late[int(0.99 * (len(late) - 1))] if late else 0.0,
        "gen_late_ticks": len(late)}))


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("corpus")
    c.add_argument("--events", type=int, default=20000)
    c.add_argument("--files", type=int, default=40)
    r = sub.add_parser("rules")
    r.add_argument("--rules", type=int, default=250)
    t = sub.add_parser("tables")
    t.add_argument("--scale", type=float, default=0.1)
    lv = sub.add_parser("live")
    lv.add_argument("--rates", required=True)
    lv.add_argument("--hold", required=True)
    lv.add_argument("--file-ms", type=int, default=250)
    lv.add_argument("--seq-base", type=int, default=0)
    for sp in (c, r, t, lv):
        sp.add_argument("--seed", type=int, required=True)
        sp.add_argument("--out", required=True)
    args = p.parse_args()
    {"corpus": gen_corpus, "rules": gen_rules, "tables": gen_tables, "live": gen_live}[args.cmd](args)


if __name__ == "__main__":
    main()
