"""Seeded Kubernetes snapshot for the k8s-api workload.

generate(seed) returns the three list files (pods.json, nodes.json,
services.json) as bytes, the query mix, and the expected rows of every
query, computed here from the generated objects with the dialect's
semantics rather than by the engine. The same seed gives byte-identical
files.

The snapshot covers what the fixture schema requires: multi-container
pods, Pending pods with no containerStatuses (and no node), container
statuses shorter than the container list, a restartCount of 0 and an
absent one, and pods with, without and with an empty `email` annotation.
"""

import json
import random
from collections import Counter

PODS, NODES, SERVICES = 20000, 670, 2500

APPS = ["mysql", "web", "api", "worker", "cache", "batch", "search",
        "ingest", "auth", "billing", "report", "queue"]
NAMESPACES = ["default", "db", "prod", "staging", "batch", "monitoring",
              "payments", "search", "ingest", "platform", "auth", "data"]
MYSQL_IMAGES = ["mysql:5.5", "mysql:5.7", "mysql:8.0", "mysql-tools:1.0",
                "mysqld-exporter:0.15"]
OTHER_IMAGES = ["nginx:1.25", "redis:7.2", "busybox:1.36", "python:3.11",
                "envoy:1.29", "fluent-bit:2.2", "node:20", "golang:1.22"]
TEAMS = ["dba", "web-team", "platform", "payments", "search", "data"]


def _stamp(rng):
    return "2016-%02d-%02dT%02d:%02d:%02dZ" % (
        rng.randint(1, 12), rng.randint(1, 28), rng.randint(0, 23),
        rng.randint(0, 59), rng.randint(0, 59))


def _node(rng, i):
    name = "node-%04d" % i
    return {
        "metadata": {
            "name": name, "namespace": "", "uid": "node-uid-%05d" % i,
            "creationTimestamp": _stamp(rng),
            "labels": {"kubernetes.io/hostname": name,
                       "topology.kubernetes.io/zone": "zone-%d" % (i % 3)},
            "annotations": {},
        },
        "spec": {"podCIDR": "10.%d.%d.0/24" % (i // 256, i % 256),
                 "unschedulable": rng.random() < 0.02},
        "status": {
            "capacity": {"cpu": "16", "memory": "65873348Ki", "pods": "110"},
            "allocatable": {"cpu": "15800m", "memory": "63473348Ki",
                            "pods": "110"},
            "conditions": [
                {"type": "Ready",
                 "status": "True" if rng.random() < 0.97 else "False"},
                {"type": "MemoryPressure", "status": "False"},
                {"type": "DiskPressure", "status": "False"}],
            "nodeInfo": {"kubeletVersion": "v1.%d.3" % rng.randint(26, 29),
                         "osImage": "Debian GNU/Linux 12 (bookworm)"},
        },
    }


def _service(rng, i):
    app = rng.choice(APPS)
    kind = rng.choice(["ClusterIP", "ClusterIP", "ClusterIP", "NodePort",
                       "LoadBalancer"])
    svc = {
        "metadata": {
            "name": "%s-svc-%04d" % (app, i),
            "namespace": rng.choice(NAMESPACES),
            "uid": "svc-uid-%05d" % i, "creationTimestamp": _stamp(rng),
            "labels": {"app": app}, "annotations": {},
        },
        "spec": {
            "type": kind,
            "clusterIP": "10.96.%d.%d" % (i // 250, i % 250 + 1),
            "selector": {"app": app},
            "ports": [{"name": "http", "port": 80,
                       "targetPort": str(8000 + rng.randint(0, 99)),
                       "protocol": "TCP"}],
        },
        "status": {"loadBalancer": {}},
    }
    if kind == "LoadBalancer":
        svc["status"]["loadBalancer"] = {
            "ingress": [{"ip": "34.%d.%d.%d" % (rng.randint(0, 255),
                                                rng.randint(0, 255),
                                                rng.randint(1, 254))}]}
    return svc


def _pod(rng, i, nodes):
    app = rng.choice(APPS)
    name = "%s-%05d-%s" % (app, i, "".join(
        rng.choice("bcdfghjklmnpqrstvwxz2456789") for _ in range(5)))
    r = rng.random()
    annotations = {"kubernetes.io/psp": "restricted"}
    if r < 0.25:
        annotations["email"] = "%s@example.com" % rng.choice(TEAMS)
    elif r < 0.30:
        annotations["email"] = ""
    n = rng.choices([1, 2, 3], weights=[6, 3, 1])[0]
    containers = []
    for j in range(n):
        image = (rng.choice(MYSQL_IMAGES) if rng.random() < 0.6
                 else rng.choice(OTHER_IMAGES))
        containers.append({
            "name": "c%d" % j, "image": image,
            "ports": [{"containerPort": 3306 if image.startswith("mysql")
                       else 8080, "protocol": "TCP"}],
            "resources": {"requests": {"cpu": "%dm" % rng.choice(
                [100, 250, 500]), "memory": "%dMi" % rng.choice(
                [128, 256, 512])}},
        })
    pod = {
        "metadata": {
            "name": name, "namespace": rng.choice(NAMESPACES),
            "uid": "pod-uid-%06d" % i, "creationTimestamp": _stamp(rng),
            "labels": {"app": app,
                       "pod-template-hash": "%08x" % rng.getrandbits(32)},
            "annotations": annotations,
        },
        "spec": {"containers": containers},
        "status": {},
    }
    phase = rng.choices(["Running", "Pending", "Succeeded", "Failed"],
                        weights=[90, 6, 3, 1])[0]
    pod["status"]["phase"] = phase
    if phase == "Pending":
        return pod  # unscheduled: no nodeName, no containerStatuses
    pod["spec"]["nodeName"] = rng.choice(nodes)
    statuses = []
    for j, c in enumerate(containers):
        st = {"name": c["name"], "ready": phase == "Running"}
        if rng.random() >= 0.02:
            st["restartCount"] = rng.choice([0, 0, 0, 0, 1, 2, 3, 7])
        statuses.append(st)
    if n > 1 and rng.random() < 0.05:
        statuses.pop()  # status array shorter than the container list
    pod["status"]["containerStatuses"] = statuses
    pod["status"]["podIP"] = "10.244.%d.%d" % (i // 250, i % 250 + 1)
    pod["status"]["startTime"] = pod["metadata"]["creationTimestamp"]
    return pod


def _listing(kind, items):
    doc = {"kind": kind, "apiVersion": "v1", "items": items}
    return json.dumps(doc, separators=(",", ":")).encode()


def _containers(pods):
    """The derived containers table: (image, uid, restarts) per container,
    statuses aligned by index; a missing status or count gives None."""
    rows = []
    for p in pods:
        statuses = p["status"].get("containerStatuses") or []
        for j, c in enumerate(p["spec"]["containers"]):
            st = statuses[j] if j < len(statuses) else {}
            rows.append((c["image"], p["metadata"]["uid"],
                         st.get("restartCount")))
    return rows


def _falsy(v):
    return v is None or v == ""


def mix_and_expected(pods, target):
    """The query mix (README queries 1-4, a point lookup, a per-node restart
    rollup) with each query's expected rows, as a list of tuples."""
    by_uid = {p["metadata"]["uid"]: p for p in pods}
    cont = _containers(pods)
    mysql = [c for c in cont if c[0].startswith("mysql")]
    name = lambda uid: by_uid[uid]["metadata"]["name"]
    email = lambda uid: by_uid[uid]["metadata"]["annotations"].get("email")
    rollup = {}
    for image, uid, restarts in cont:
        node = by_uid[uid]["spec"].get("nodeName")
        s, n = rollup.get(node, (None, 0))
        if restarts is not None:
            s = (s or 0) + restarts
        rollup[node] = (s, n + 1)
    hit = [p for p in pods if p["metadata"]["name"] == target]
    return [
        ("select count(*) from containers where containers.image like "
         "'mysql%'", [(len(mysql),)]),
        ("select count(*),image from containers where containers.image like "
         "'mysql%' group by image",
         [(n, img) for img, n in Counter(c[0] for c in mysql).items()]),
        ("select pods.metadata->name,pods.metadata->annotations->email,image "
         "from pods join containers using uid where image like 'mysql:5.5%'",
         [(name(u), email(u), img) for img, u, _ in cont
          if img.startswith("mysql:5.5")]),
        ("select pods.metadata->name,image from pods left join containers "
         "using uid where image like 'mysql%' and not "
         "pods.metadata->annotations->email",
         [(name(u), img) for img, u, _ in mysql if _falsy(email(u))]),
        ("select pods.metadata->name,pods.status->phase,node from pods "
         "where pods.metadata->name = '%s'" % target,
         [(p["metadata"]["name"], p["status"]["phase"],
           p["spec"].get("nodeName")) for p in hit]),
        ("select node,sum(restarts) as restarts,count(*) as containers "
         "from pods join containers using uid group by node",
         [(node, s, n) for node, (s, n) in rollup.items()]),
    ]


def generate(seed, pods=PODS, nodes=NODES, services=SERVICES):
    """(files, mix): files maps file name to bytes; mix is a list of
    (sql, expected rows)."""
    rng = random.Random(seed)
    node_objs = [_node(rng, i) for i in range(nodes)]
    node_names = [n["metadata"]["name"] for n in node_objs]
    pod_objs = [_pod(rng, i, node_names) for i in range(pods)]
    svc_objs = [_service(rng, i) for i in range(services)]
    target = rng.choice(pod_objs)["metadata"]["name"]
    files = {
        "pods.json": _listing("PodList", pod_objs),
        "nodes.json": _listing("NodeList", node_objs),
        "services.json": _listing("ServiceList", svc_objs),
    }
    return files, mix_and_expected(pod_objs, target)


def rows_of(body):
    """Rows of a `{headers, data}` response body, as tuples."""
    return [tuple(r) for r in json.loads(body)["data"]]


def matches(body, expected):
    """True when the response holds exactly the expected rows, in any
    order (a multiset comparison)."""
    try:
        return Counter(rows_of(body)) == Counter(map(tuple, expected))
    except (ValueError, KeyError, TypeError):
        return False
