"""CASIE ontology constants.

These are the *data* of the CASIE annotation scheme (event subtypes,
argument entity types, legal event->argument pairs, argument->role
maps, trigger seed lexicons).  They define query semantics, so they are
reproduced from the reference verbatim as values:

- EVENT_SUBTYPES   <- TriggerList, reference code/link_coref.py:35
- ARGUMENT_TYPES   <- ArgumentList, link_coref.py:36-37
- PAIR             <- Pair, link_coref.py:38-42
- WORDSET          <- Wordset, link_coref.py:43-47
- GENERAL_NOUNS    <- GeneralN, link_coref.py:48-50
- GENERAL_ARG      <- GeneralArg, link_coref.py:57
- ROLE_PAIR        <- RolePair, link_coref.py:59-81
- COREF_WEIGHTS / COREF_THRESHOLD <- link_coref.py:2041-2042, :1670
- NER whitelist    <- selectedNER, parseJsontoFeatures.py:164-165
"""

from __future__ import annotations

EVENT_SUBTYPES = [
    "Phishing",
    "DiscoverVulnerability",
    "Databreach",
    "PatchVulnerability",
    "Ransom",
]

ARGUMENT_TYPES = [
    "Patch", "Data", "Money", "Time", "Organization", "GPE", "File",
    "Version", "Person", "Vulnerability", "PaymentMethod", "CVE",
    "Device", "Website", "System", "Number", "PII", "Malware",
    "Capabilities", "Purpose", "Software",
]

# Legal argument entity types per event subtype (link_coref.py:38-42).
PAIR = {
    "Phishing": [
        "Capabilities", "File", "GPE", "Money", "Number", "Organization",
        "Person", "Website", "System", "PII", "Malware", "Purpose",
        "Time", "Data", "Software",
    ],
    "Ransom": [
        "Capabilities", "Money", "Time", "Organization", "GPE", "File",
        "Person", "PaymentMethod", "Device", "System", "Number",
        "Malware", "Website", "Software",
    ],
    "Databreach": [
        "Data", "Money", "Time", "Organization", "GPE", "File", "Person",
        "Device", "System", "Number", "Website", "PII", "Malware",
        "Capabilities", "Purpose", "Software",
    ],
    "DiscoverVulnerability": [
        "Time", "Organization", "Version", "Person", "Vulnerability",
        "CVE", "Device", "System", "Capabilities", "Website", "Software",
    ],
    "PatchVulnerability": [
        "Time", "Organization", "Version", "Person", "Vulnerability",
        "CVE", "Device", "System", "Capabilities", "Patch", "Website",
        "Software",
    ],
}

# Trigger seed lexicons for the rule/similarity tagger (link_coref.py:43-47).
WORDSET = {
    "DiscoverVulnerability": [
        "find", "publish", "identify", "demonstrate", "discover",
        "investigate", "observe", "uncover", "notice", "notify",
        "acknowledge", "exist", "report", "say", "exploit", "reside",
        "study", "reveal", "disclose", "expose", "declare", "introduce",
        "develop", "exposure", "explain", "describe", "vulnerable",
        "appear", "suggest", "indicate",
    ],
    "PatchVulnerability": [
        "install", "firmware", "reportedly", "note", "deploy", "reveal",
        "develop", "build", "address", "resolve", "announce", "release",
        "update", "bug", "fix", "issue", "improve", "distribute",
    ],
    "Databreach": [
        "eavesdrop", "intercept", "credential-harvesting", "leakage",
        "dump", "sold", "harvest", "corrupted", "copied", "collecting",
        "handed", "published", "grab", "steal", "privacy", "obtain",
        "pilfered", "collected", "sensitive", "circulated",
        "compromised", "allegedly", "unauthorized",
    ],
    "Ransom": [
        "asking", "demanding", "payment", "ransom", "bitcoin", "provide",
        "refusing", "paying", "effort", "holding", "payout", "infects",
        "disrupted", "requesting", "stating", "instruct", "extorting",
        "wannacry",
    ],
    "Phishing": [
        "appear", "defraud", "trick", "hit", "phishing", "lure", "claim",
        "pose", "load", "display", "distribute", "redirect", "disguise",
        "pretending", "serve", "impersonate", "create", "scam", "dupe",
        "sent", "craft", "misleading",
    ],
}

# General nouns that imply an event type (link_coref.py:48-50).
GENERAL_NOUNS = {
    "general": ["attack", "attacks", "cyberattacks", "cyber-attack",
                "incident", "incidents", "threats"],
    "Databreach": ["breach", "breaches"],
    "PatchVulnerability": ["patch", "patches"],
}

# General nouns that imply an argument type (link_coref.py:57).
GENERAL_ARG = {
    "Vulnerability": ["flaw", "flaws", "issues", "issue", "bug", "bugs"],
    "Patch": ["patch", "release", "update"],
}

# Argument entity type -> legal roles per event subtype
# (link_coref.py:59-81; note the reference's own 'Number-of-victim'
# casing in Databreach and the string-valued DiscoverVulnerability
# Version entry are preserved semantically as lists here).
ROLE_PAIR = {
    "Phishing": {
        "Capabilities": ["Attack-Pattern"],
        "File": ["Trusted-Entity", "Tool"],
        "GPE": ["Place"],
        "Money": ["Damage-Amount"],
        "Number": ["Number-of-Victim"],
        "Organization": ["Attacker", "Victim", "Trusted-Entity"],
        "Person": ["Attacker", "Victim", "Trusted-Entity"],
        "Website": ["Trusted-Entity", "Tool"],
        "System": ["Trusted-Entity"],
        "PII": ["Trusted-Entity"],
        "Malware": ["Tool"],
        "Purpose": ["Purpose"],
        "Time": ["Time"],
        "Data": ["Trusted-Entity"],
    },
    "Ransom": {
        "Capabilities": ["Attack-Pattern"],
        "Money": ["Ransom-Price"],
        "Time": ["Time"],
        "Organization": ["Attacker", "Victim"],
        "GPE": ["Place"],
        "File": ["Tool"],
        "Person": ["Attacker", "Victim"],
        "PaymentMethod": ["Payment-Method"],
        "Device": ["Victim"],
        "System": ["Victim"],
        "Number": ["Number-of-Victim"],
        "Malware": ["Tool"],
        "Website": ["Victim"],
    },
    "Databreach": {
        "Data": ["Compromised-Data"],
        "Money": ["Damage-Amount"],
        "Time": ["Time"],
        "Organization": ["Attacker", "Victim"],
        "GPE": ["Place"],
        "File": ["Tool"],
        "Person": ["Attacker", "Victim"],
        "Device": ["Victim"],
        "System": ["Victim"],
        "Number": ["Number-of-victim", "Number-of-Compromised-Data"],
        "Website": ["Victim"],
        "PII": ["Compromised-Data"],
        "Malware": ["Tool"],
        "Capabilities": ["Attack-Pattern"],
        "Purpose": ["Purpose"],
    },
    "DiscoverVulnerability": {
        "Time": ["Time"],
        "Organization": ["Attacker", "Victim"],
        "Version": ["Vulnerable-System-Version"],
        "Person": ["Discoverer", "Vulnerable-System-Owner"],
        "Vulnerability": ["Vulnerability"],
        "CVE": ["CVE"],
        "Device": ["Vulnerable-System", "Supported-Platform"],
        "System": ["Vulnerable-System", "Supported-Platform"],
        "Capabilities": ["Capabilities"],
        "Website": ["Vulnerable-System", "Supported-Platform"],
    },
    "PatchVulnerability": {
        "Time": ["Time"],
        "Organization": ["Patch-Releaser", "Vulnerable-System-Owner"],
        "Version": ["Patch-Number", "Vulnerable-System-Version"],
        "Person": ["Patch-Releaser", "Vulnerable-System-Owner"],
        "Vulnerability": ["Vulnerability"],
        "CVE": ["CVE"],
        "Device": ["Vulnerable-System", "Supported-Platform"],
        "System": ["Vulnerable-System", "Supported-Platform"],
        "Capabilities": ["Issues-Addressed"],
        "Patch": ["Patch"],
        "Website": ["Vulnerable-System", "Supported-Platform"],
    },
}

# RolePair surface vocabulary -> the gold-corpus role vocabulary.  The
# reference's RolePair constants (link_coref.py:59-81) and its own
# annotated corpus disagree on these strings: the corpus (and the
# label set its models are trained on — score.py:9 RoleList carries
# B-Vulnerable_System, B-Releaser, ...) uses underscores and shorter
# names.  Measured on all 1,000 annotation files: 2,056
# Vulnerable_System vs 0 Vulnerable-System, 786 Releaser vs 0
# Patch-Releaser, 370 Price vs 0 Ransom-Price, 147 Number-of-Data vs
# 0 Number-of-Compromised-Data.  mode=model pipelines canonicalize
# deterministic-table output through this map so every emitted role is
# a string that actually exists in the corpus; mode=rules keeps the
# verbatim RolePair vocabulary for parity with the reference cascade.
GOLD_ROLE_CANON = {
    "Vulnerable-System": "Vulnerable_System",
    "Vulnerable-System-Owner": "Vulnerable_System_Owner",
    "Vulnerable-System-Version": "Vulnerable_System_Version",
    "Supported-Platform": "Supported_Platform",
    "Patch-Releaser": "Releaser",
    "Ransom-Price": "Price",
    "Number-of-victim": "Number-of-Victim",
    "Number-of-Compromised-Data": "Number-of-Data",
}

# NER whitelist — the exact selectedNER list the feature pipeline
# keeps (parseJsontoFeatures.py:164-165, verbatim incl. the "File"/
# "FILE" duplication); everything else is reset to 'O' before BIO
# encoding (combineNe_st, :167-181 — P1/P3 in SURVEY §2.2).
NER_WHITELIST = [
    "LOCATION", "STATE_OR_PROVINCE", "CITY", "COUNTRY", "DATE", "SET",
    "TIME", "DURATION", "NUMBER", "URL", "MONEY", "ORGANIZATION",
    "EMAIL", "PERSON", "CURRENCY", "SOFTWARE", "DEVICE", "SYSTEM",
    "CVE", "File", "GPE", "Version", "Tool", "PII", "MODIFIER",
    "CONSEQUENCES", "OPERATINGSYSTEM", "NETWORK", "ATTACK", "MEANS",
    "HARDWARE", "OTHER", "FILE",
]

# Common-noun -> compatible-NER-type gazetteers for the look-back NER
# propagation (J8).  Ontology data reproduced verbatim from
# parseJsontoFeatures.py:879-884 (devicelist/gpelist/syssoftlist/
# perlist/orglist) — these define the annotation scheme's noun classes.
NER_DEVICE_NOUNS = [
    "wificam", "hardware", "appliance", "kit", "gateway", "bear", "toy",
    "doll", "thermostat", "fridge", "door", "kettle", "monitor",
    "webcam", "desktop", "television", "car", "vehicle", "transmitter",
    "pacemaker", "electronic", "model", "microphone", "speaker",
    "register", "handset", "stripe", "card", "oven", "pump",
    "harddrive", "scanner", "recorder", "smartwatch", "wearable",
    "watch", "TV", "accelerometer", "gadget", "smartphone", "sensor",
    "workstation", "gear", "switch", "router", "CPU", "defibrillator",
    "pacemaker", "chipset", "equipment", "adapter", "printer",
    "platform", "product", "family", "fuse", "console", "chip",
    "memory", "robot", "camera", "machine", "device", "component",
    "module", "PC", "laptop", "computer", "modem", "processor",
]
NER_GPE_NOUNS = ["country", "internationally"]
NER_SYSSOFT_NOUNS = [
    "network", "system", "server", "page", "website", "site",
    "interface", "service", "portal", "version", "module", "component",
    "subsystem", "library", "framework", "product", "mode",
    "installation", "engine", "management", "code", "software",
    "codebase", "fork", "platform", "browser", "login", "drive", "core",
    "filesystem", "technology", "repository", "feature", "database",
    "distro", "distribution", "client", "suite", "tool", "assessment",
    "desktop", "console", "landscape", "functionality", "domain",
    "rail", "function", "implementation", "panel", "security",
    "process", "intranet", "server-side", "redirection", "channel",
    "traffic", "host", "controller", "handler", "verification",
    "infrastructure", "product", "app", "application", "software",
    "installer", "game", "browser", "project", "program", "tool",
    "client", "installation", "production", "blunder", "image",
    "solution", "interface", "firewall", "service", "services",
    "variant", "extension", "script", "update", "anti-virus", "module",
    "driver",
]
NER_PERSON_NOUNS = [
    "party", "group", "target", "patient", "staff", "woman", "person",
    "customer", "worker", "employee", "volunteer", "student", "family",
    "member", "passenger", "hacker", "parent", "teacher", "citizen",
    "fraudster", "complainant", "attacker", "resident", "researcher",
    "reader", "conspirator", "official", "someone", "victim",
    "infiltrator", "individual", "user", "scammer", "consumer", "actor",
    "thief", "expert", "boss", "artist", "criminal", "executive",
    "friend", "man", "conman", "guest", "malefactor", "cybercriminal",
    "developer", "guy", "authority", "anyone", "assailant",
    "perpetrator", "cyber-attacker", "operator", "owner", "crook",
    "extortionist", "culprit", "recipient", "colleague", "journalist",
    "girl", "buyer", "administrator", "scamster", "subscriber",
    "visitor", "phisher", "inspector", "taxpayer", "sender", "swindler",
    "cyberattacker", "client", "shopper", "author", "motorist",
    "leader", "caller", "investor", "defendant", "somebody", "taxman",
    "creator", "engineer", "imposter", "partner", "folk", "officer",
    "stealer", "cyber-criminal", "threat", "player", "advisory",
    "gamer", "athlete", "other", "director", "seeker", "voter",
    "insider", "miscreant", "spokesperson", "veteran", "end-user",
    "duo", "politician", "celebrity", "crew", "chairman", "intruder",
    "cryptologist", "blackmailer", "seller", "chief", "source", "maker",
    "moniker", "employer", "preparer", "spear-phisher", "brother",
    "sister", "activism", "producer", "speaker", "physician",
    "trickster", "manager", "influencer", "child", "demander", "adult",
    "kid", "co-worker", "stranger", "serviceman", "contractor",
    "adversary", "maintainer", "distributor", "team", "diplomat",
    "cyberoperative",
]
NER_ORG_NOUNS = [
    "party", "group", "target", "town", "hospital", "village",
    "district", "firm", "organization", "organisation", "association",
    "supplier", "company", "third-party", "group", "vendor",
    "department", "business", "finance", "manufacturer", "giant",
    "party", "hotel", "bank", "sector", "institution", "victim",
    "government", "county", "city", "national", "state", "provider",
    "enforcement", "industry", "brand", "maker", "operation",
    "enterprise", "community", "advisory", "chipmaker", "project",
    "site", "charity", "municipality", "corporation", "logistic",
    "program", "pair", "office", "authority", "port", "school",
    "channel", "entity", "source", "chain", "host", "subcontractor",
    "facility", "healthcare", "shipping", "other", "university",
    "asset", "restaurant", "bar", "branding", "airline", "copycat",
    "studio", "establishment", "telecom", "library", "management",
    "ministry", "utility", "college", "partner", "store", "clinic",
    "artillery", "payroll",
]

# P4: (event subtype -> argument entity types) whose ROLE is ambiguous
# and therefore routed to the role-phrase model; all other pairs get
# the deterministic RolePair role.  Verbatim AmbiguousList,
# prepare.py:177-179.
AMBIGUOUS_LIST = {
    "Phishing": ["Person", "Organization", "Website"],
    "Ransom": ["Person", "Organization", "Website", "Money"],
    "Databreach": ["Person", "Organization", "Website", "Number"],
    "DiscoverVulnerability": ["Person", "Organization"],
    "PatchVulnerability": ["Person", "Organization", "Website", "Device",
                           "Product", "Version"],
}

# Event coreference clustering configuration (link_coref.py:2041-2042,
# linkage/threshold at :1670, feature weights at :1653-1679).
COREF_WEIGHTS = [0.141, 0.177, 0.14, 0.148, 0.112, 0.141, 0.141]
COREF_THRESHOLD = 0.75

