"""Open-loop UDP load generator for the ingest workloads.

One process, one thread, one socket. Every datagram is a MikroTik-style
syslog line, `<topic>,<severity>[,<topic>...] seq=<n> due=<us> <filler>`,
whose topic list, severity token and length (40-1024 bytes) come from the
seed. Each datagram is sent at its due time; when the generator runs late
it catches up no faster than twice the workload's rate, so a stall of the
generator does not turn into a blast that overflows the receive buffer.
Lateness is reported, and latency is measured from the due time, so any
stall is charged to every datagram behind it.

    python3 perfbench/loadgen.py <port> <seed> <steady|burst> <t0_ms> <seconds> <out.json>

`out.json` lists, per datagram, its seq, due and send times, and the
severity and categories the program must parse out of it.
"""
import json
import random
import socket
import sys
import time

# open-loop rates: 400 msg/s is 80 % of the reference's 500 msg/s envelope;
# a burst of 4000 at 5000 msg/s fits the source's 10 000-row buffer but
# needs four 1000-row batches to drain. At 20 000 msg/s the single receiver
# thread lost datagrams to a full kernel receive buffer whenever the host
# was busy, and a workload on which operations fail cannot be compared.
STEADY_RATE = 400
BURST_SIZE, BURST_RATE, BURST_EVERY_S = 4000, 5000, 30

TOPICS = ["system", "firewall", "dhcp", "wireless", "interface", "script",
          "dns", "ppp", "ovpn", "ipsec", "web-proxy", "ntp", "bgp", "ospf",
          "hotspot", "caps", "certificate", "l2tp", "pppoe", "snmp"]
# the parser's severity tokens and their RFC 5424 codes
SEVERITY = {"fatal": 0, "emergency": 0, "alert": 1, "critical": 2, "error": 3,
            "warning": 4, "notice": 5, "info": 6, "debug": 7, "packet": 7, "raw": 7}
SEV_WEIGHTS = {"info": 40, "warning": 12, "error": 10, "debug": 10, "critical": 4,
               "notice": 4, "packet": 3, "alert": 1, "emergency": 1, "fatal": 1, "raw": 1}
# a token in the severity position that is not a severity: the parser falls
# back to Info and keeps the token as a category
UNKNOWN_SEV = ["account", "forward", "state", "lease"]
FILLER = ("link up down address assigned to from via interface lease renew "
          "dropped accepted input output src dst proto tcp udp icmp port mac").split()


def schedule(mode, seconds):
    """Offsets in seconds from t0 at which each datagram is due, and the
    rate it is sent at."""
    if mode == "steady":
        return [i / STEADY_RATE for i in range(int(STEADY_RATE * seconds))], STEADY_RATE
    offs = []
    start = 0.0
    while start < seconds:
        offs += [start + i / BURST_RATE for i in range(BURST_SIZE)]
        start += BURST_EVERY_S
    return offs, BURST_RATE


def make(rng, seq, due_us):
    """One payload and the severity and categories it must parse to."""
    first = rng.choice(TOPICS)
    extra = rng.sample(TOPICS, rng.randint(0, 2))
    if rng.random() < 0.15:
        tok = rng.choice(UNKNOWN_SEV)
        sev, cats = SEVERITY["info"], [first] + extra + [tok]
    else:
        tok = rng.choices(list(SEV_WEIGHTS), weights=list(SEV_WEIGHTS.values()))[0]
        sev, cats = SEVERITY[tok], [first] + extra
    head = ",".join([first, tok] + extra) + f" seq={seq} due={due_us}"
    length = int(round(40 * (1024 / 40) ** rng.random()))
    words = []
    while len(head) + sum(len(w) + 1 for w in words) < length:
        words.append(rng.choice(FILLER))
    text = (head + "".join(" " + w for w in words))[:max(length, len(head))]
    return text.encode("ascii"), sev, ",".join(cats)


def main():
    port, seed, mode = int(sys.argv[1]), int(sys.argv[2]), sys.argv[3]
    t0_ms, seconds, out = int(sys.argv[4]), float(sys.argv[5]), sys.argv[6]
    rng = random.Random(seed)
    offs, rate = schedule(mode, seconds)
    due_us = [t0_ms * 1000 + int(round(o * 1e6)) for o in offs]
    msgs = [make(rng, i, d) for i, d in enumerate(due_us)]
    sent_us = [0] * len(msgs)
    sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    addr = ("127.0.0.1", port)
    min_gap, last = 0.5 / rate, 0.0
    try:
        for i, (payload, _, _) in enumerate(msgs):
            due = max(due_us[i] / 1e6, last + min_gap)
            while True:
                wait = due - time.time()
                if wait <= 0:
                    break
                if wait > 0.002:
                    time.sleep(wait - 0.001)
            sock.sendto(payload, addr)
            last = time.time()
            sent_us[i] = int(last * 1e6)
    finally:
        sock.close()
    late = sorted((s - d) / 1000 for s, d in zip(sent_us, due_us))
    with open(out, "w") as f:
        json.dump({"sent": len(msgs),
                   "late_ms_p99": late[min(len(late) - 1, int(0.99 * len(late)))],
                   "records": [[i, due_us[i], sent_us[i], sev, cats]
                               for i, (_, sev, cats) in enumerate(msgs)]}, f)


if __name__ == "__main__":
    main()
